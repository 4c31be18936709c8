package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash document fingerprinting, parameterized by fingerprint
  * width ([[SimHash]] = the original 16-bit variant, [[SimHash64]] =
  * the scale variant — see the width note below).
  *
  * Per distinct token: take the first `bits/4` hex chars of
  * md5(token). Per document and bit position b: the bit is set iff
  * more than half the tokens have bit b set. The per-token hash is
  * assembled ONCE per row as a long (`tokenHash`) from `conv` over
  * the md5 hex — pure integer arithmetic, portable, codegen'd, and
  * exactly reproducible in any ANSI-SQL engine (no platform hash) —
  * and the per-bit terms are then cheap shift/mask extractions from
  * that long. Assembling the hash once matters at 64 bits twice
  * over: it keeps md5 from being recomputed per bit, and it keeps
  * the aggregate's generated update method far from the JVM JIT's
  * method-size ceiling (the q187 HugeMethodLimit lesson: 64 similar
  * heavy expressions over one input silently run interpreted; 64
  * shift-and terms over one long do not).
  *
  * Shape at scale: explode to (doc, token) → one hash-aggregate keyed
  * by doc with `bits` conditional sums; a single shuffle.
  *
  * WIDTH AND SCALE: a w-bit band over a `bits`-wide fingerprint has
  * at most 2^w keys, and the fingerprint keyspace itself is 2^bits.
  * At 16 bits the whole corpus lands on ≤65 k distinct fingerprints,
  * so from ~5 M docs up bucket occupancy grows linearly in N and
  * candidate pairs quadratically — the round-16 sf100 calibration
  * priced out EVERY 16-bit width and the guarded fallback became the
  * permanent path. [[SimHash64]] is the fix (Charikar's construction
  * at the width Manku–Jain–Sadikov use for web-scale dedup): 16 md5
  * nibbles, band widths 8–16 give 256–65 k keys per band with
  * keyspace headroom for decades of corpus growth. The 16-bit
  * variant stays for its committed oracles (q29/q60/q160/q176/q189)
  * and for corpora small enough that its narrower hamming radii are
  * the point.
  */
sealed abstract class SimHashFamily(val bits: Int) {
  require(bits == 16 || bits == 64, s"unsupported fingerprint width $bits")

  private val hexChars = bits / 4

  /** The `bits`-bit token hash as ONE long column: `conv` the leading
    * md5 nibbles in ≤8-char (32-bit) limbs — each limb fits a long
    * with headroom, so the assembly is shift/or bit work with no
    * ANSI-overflow surface (a single 16-char conv of a hash with the
    * top bit set would exceed Long.MaxValue as unsigned decimal and
    * fail the cast).
    */
  def tokenHash(token: Column): Column = {
    val hex = md5(token)
    if (bits <= 32)
      conv(substring(hex, 1, hexChars), 16, 10).cast("long")
    else {
      val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
      val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
      shiftleft(hi, 32).bitwiseOR(lo)
    }
  }

  /** Bit b (0 = LSB) of a token-hash long. */
  def bitOf(h: Column, b: Int): Column =
    shiftright(h, b).bitwiseAND(lit(1L))

  /** Aggregate expression: `bits`-bit simhash over grouped token rows.
    * The `1L << b` term for the sign bit is Long.MinValue; the left
    * fold adds it last, after the ≤(2^63 − 1) sum of the lower bits,
    * so every partial sum stays in range under ANSI arithmetic (the
    * DuckDB oracles promote to HUGEINT and cast back — same values).
    */
  def simhashAgg(token: Column): Column =
    simhashAggFromHash(tokenHash(token))

  /** [[simhashAgg]] over a pre-computed token-hash column — the form
    * to use when the plan already carries the hash (one md5 per row
    * instead of relying on subexpression elimination).
    */
  def simhashAggFromHash(h: Column): Column = {
    val tot = count(lit(1))
    (0 until bits)
      .map { b =>
        val cnt = sum(bitOf(h, b))
        when(cnt * 2 > tot, lit(1L << b)).otherwise(lit(0L))
      }
      .reduce(_ + _)
      .cast("long")
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Per-document fingerprint over n-token shingles computed inside
    * ONE pass over the corpus — bit-equal to the declarative
    * explode → distinct-hash → [[simhashAggFromHash]] chain (the q191
    * construction), with the per-doc shingle dedup and the
    * majority-vote fold run locally in a typed `mapPartitions`: a
    * document's fingerprint depends only on its own shingles, so the
    * explode (one row copy per shingle), the corpus-wide DISTINCT
    * shuffle, and the (doc → 64 bit-sums) aggregation shuffle are all
    * unnecessary. The `MinHashLsh.signaturesFromTokens` move applied
    * to SimHash — and at the fourth decade it is the difference
    * between a map-only stage and ~1.45 B shingle rows through two
    * corpus-wide shuffles whose retained files exceeded a 252 GB
    * box's free disk (the round-17 sf1000 post-mortem). The hash is
    * the identical md5-prefix value ([[tokenHash]]'s first `bits`
    * digest bits, taken from the raw bytes rather than through a
    * hex-string round-trip), so fingerprints stay bit-equal to the
    * declarative form and to the SQL oracle.
    *
    * DEDUP SEMANTICS (one mode — round 19 retired the string-dedup
    * compatibility branch): per-doc shingles dedup on the `bits`-bit
    * HASH itself. The oracle twin is `SELECT DISTINCT doc_id,
    * substr(md5(shingle), 1, bits/4)` — hex prefix ↔ hash long is a
    * BIJECTION, so deduping on either side of it selects the same
    * set and the SQL replay stays exact (SimHashOnePassSpec pins the
    * bijection). Two distinct shingles colliding in the prefix
    * collapse to one vote on BOTH sides (probability 2^-bits per
    * pair; at 16 bits this is observable on real corpora, which is
    * why the oracles replay the same dedup rather than pretending
    * collisions away).
    *
    * @param docs      one row per document
    * @param tokensCol materialized array<string> token column
    * @param n         shingle width (tokens per shingle)
    * @return one row per id that has ≥ 1 shingle: idCol, sh
    */
  def fingerprintsFromTokens(docs: DataFrame, idCol: String,
      tokensCol: String, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nBits = bits
    val nBytes = bits / 8
    // id rides through as a string and is cast back on the way out —
    // the signaturesFromTokens any-id-type contract
    val idType = docs.schema(idCol).dataType
    val rows = docs
      .select(col(idCol).cast("string"), col(tokensCol).cast("array<string>"))
      .as[(String, Array[String])]
      .mapPartitions { it =>
        // r21: allocation-free single-pass MD5 + byte-level shingle
        // assembly (the signaturesFromTokens rewrite) — identical
        // bytes, identical prefix value (Md5Spec)
        val md = new Md5.First8
        val bb = new Md5.ByteBuf
        var tokBytes = new Array[Array[Byte]](64)
        val seen = new java.util.HashSet[java.lang.Long]
        val cnt = new Array[Int](nBits)
        it.flatMap { case (id, t) =>
          if (t == null || t.length < n) Iterator.empty
          else {
            if (tokBytes.length < t.length)
              tokBytes = new Array[Array[Byte]](t.length)
            var e = 0
            while (e < t.length) {
              tokBytes(e) = if (t(e) == null) null else t(e).getBytes("UTF-8")
              e += 1
            }
            seen.clear()
            java.util.Arrays.fill(cnt, 0)
            var tot = 0
            var i = 0
            while (i + n <= t.length) {
              bb.reset()
              // null elements are SKIPPED, separator and all — the
              // declarative twin's concat_ws semantics (ADVICE r18:
              // StringBuilder.append(null) would render the literal
              // "null", a latent bit-parity divergence; unreachable
              // from split()-produced arrays, pinned here anyway)
              var o = 0
              while (o < n) {
                val tok = tokBytes(i + o)
                if (tok != null) {
                  if (bb.len > 0) bb.appendSpace()
                  bb.append(tok)
                }
                o += 1
              }
              // first bits/4 hex chars == first bits/8 digest bytes,
              // big-endian — the tokenHash limb assembly's value
              val h = md.hash(bb.buf, bb.len) >>> (64 - 8 * nBytes)
              if (seen.add(h)) {
                tot += 1
                var b = 0
                while (b < nBits) {
                  cnt(b) += ((h >>> b) & 1L).toInt
                  b += 1
                }
              }
              i += 1
            }
            if (tot == 0) Iterator.empty
            else {
              var sh = 0L
              var b = 0
              while (b < nBits) {
                if (2L * cnt(b) > tot) sh |= (1L << b)
                b += 1
              }
              Iterator.single((id, sh))
            }
          }
        }
      }
    rows.select(col("_1").cast(idType).as(idCol), col("_2").as("sh"))
  }

  /** Default bits-per-band grid for [[calibratedPairs]] (divisors of
    * [[bits]], narrowest first — fewer bits per band → more bands and
    * more collisions → higher recall, more candidate pairs). The
    * 64-bit grid starts at 4 (a 2-bit band of a 64-bit fingerprint is
    * 32 bands of 4 keys — pure noise) and tops out at 32: on a
    * near-uniform fingerprint population the per-doc load at width w
    * is ~(bits/w)·N/2^(w+1), so w=16 stops fitting a 20-pairs/doc
    * budget near N ≈ 650 k and the third decade needs the 2^32
    * keyspace (2 bands — structurally complete for hamming ≤ 1, the
    * honest recall trade the selection makes explicit; 4 bands of 16
    * keep the hamming ≤ 3 completeness wherever they fit).
    */
  val DefaultWidthGrid: Seq[Int] =
    if (bits <= 16) Seq(2, 4, 8) else Seq(4, 8, 16, 32)

  /** Banded keys of a fingerprint frame at `w` bits per band: one row
    * per (input row, band) with `band` and `key` columns appended —
    * key = (sh >> band·w) & (2^w − 1), pure bit arithmetic (the
    * arithmetic shift's sign extension is masked off identically in
    * Spark and the oracle's engine).
    */
  def bandKeys(sigs: DataFrame, shCol: String, w: Int): DataFrame = {
    require(bits % w == 0, s"width $w must divide $bits")
    sigs
      .withColumn("band",
        explode(array((0 until bits / w).map(lit(_)): _*)))
      .withColumn("key", expr(s"shiftright($shCol, band * $w)")
        .bitwiseAND(lit((1L << w) - 1)))
  }

  /** The SimHash [[BandedLsh.Family]] over a fingerprint frame
    * (`id`, `shCol`): configs are bits per band (divisors of [[bits]]),
    * keys are [[bandKeys]]' bit slices, hot chains run in fingerprint
    * order (identical fingerprints form hamming-0 runs), and pairs
    * carry both fingerprints as `sa`/`sb`.
    */
  def family(sigs: DataFrame, id: String, shCol: String): BandedLsh.Family =
    new BandedLsh.Family {
      val idCol = id
      val recallOrder = Ordering.Int
      def bands(w: Int): Int = {
        require(bits % w == 0, s"width $w must divide $bits")
        bits / w
      }
      def gridInput(grid: Seq[Int]): DataFrame = sigs
      def gridKey(w: Int, band: Int): Column =
        expr(s"shiftright($shCol, ${band * w})").bitwiseAND(lit((1L << w) - 1))
      def banded(w: Int): DataFrame =
        bandKeys(sigs.select(col(id), col(shCol)), shCol, w)
      def content: Column = col(shCol)
      def pair(lo: String => Column, hi: String => Column): Seq[Column] =
        Seq(lo(shCol).as("sa"), hi(shCol).as("sb"))
    }

  /** Calibrate-then-execute: the narrowest (highest-recall) width
    * whose exact banded-join load fits `pairsPerDocBudget` per signed
    * document is selected (widest as fallback) by the fused
    * [[BandedLsh.calibrate]], and the hot-bucket-guarded band join
    * executes at that width. The banded frame's unpersist handle is
    * registered with [[PersistLeases]], so harnesses that drain leases
    * between queries release it; callers managing lifetime explicitly
    * should prefer [[calibratedPairsWithCleanup]].
    *
    * @return (selected width, distinct pairs (a, b, sa, sb), a < b;
    *         sa/sb are a's/b's fingerprints)
    */
  def calibratedPairs(sigs: DataFrame, idCol: String, shCol: String,
      widthGrid: Seq[Int] = DefaultWidthGrid, pairsPerDocBudget: Long = 20L,
      maxBucket: Int = LshGuard.DefaultMaxBucket): (Int, DataFrame) = {
    val (w, pairs, release) = calibratedPairsWithCleanup(
      sigs, idCol, shCol, widthGrid, pairsPerDocBudget, maxBucket)
    PersistLeases.register(release)
    (w, pairs)
  }

  /** [[calibratedPairs]] plus the banded frame's unpersist handle —
    * the `EmbedNearDup.calibratedPairsWithCleanup` contract: callers
    * outside a clear-caches-between-queries loop invoke the handle
    * once the returned frame is consumed, instead of accumulating
    * corpus×bands-sized cached blocks.
    */
  def calibratedPairsWithCleanup(sigs: DataFrame, idCol: String,
      shCol: String, widthGrid: Seq[Int] = DefaultWidthGrid,
      pairsPerDocBudget: Long = 20L,
      maxBucket: Int = LshGuard.DefaultMaxBucket)
      : (Int, DataFrame, () => Unit) =
    BandedLsh.calibratedPairs(family(sigs, idCol, shCol), widthGrid,
      pairsPerDocBudget, maxBucket)
}

/** The original 16-bit family — every committed SimHash oracle
  * (q29/q60/q160/q176/q189) replays this construction. Since round 19
  * the family dedups per-doc shingles on the 16-bit hash (the oracles
  * on its hex-prefix bijection) — the q191 semantics, uniform across
  * widths.
  */
object SimHash extends SimHashFamily(16)

/** The 64-bit scale family (round-17): the width at which the
  * calibration contract — pick a FITTING config — stays satisfiable
  * past 5 M documents, where the 16-bit keyspace saturates (see the
  * class note). Same aggregation shape, same guard, same oracle
  * replayability (16 md5 nibbles → 64 conditional sums).
  */
object SimHash64 extends SimHashFamily(64)
