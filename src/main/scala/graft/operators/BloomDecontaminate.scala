package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter benchmark decontamination — the constant-size scale
  * path for the q96 contamination check.
  *
  * q96 broadcasts the eval source's exact shingle set; that is the
  * right call while the eval set is dimension-sized, but a suite of
  * benchmarks can reach 10^9 shingles, and a broadcast hash set of
  * longs at that size (tens of GB with overhead) stops fitting in
  * executor memory. The Spark-native answer is the built-in
  * `bloom_filter_agg` / `might_contain` pair: build a fixed-size bloom
  * over the eval shingles (one partial+final aggregation, the filter
  * bytes are a few hundred MB at fpp 1e-3 even for 10^9 items),
  * broadcast the *bytes* via a scalar subquery-shaped crossJoin, and
  * probe each corpus shingle with a codegen'd `might_contain`.
  *
  * Semantics contract (pinned by BloomDecontaminateSpec):
  *  - NO false negatives: every truly contaminated shingle probes
  *    true, so the flagged set is a superset of q96's exact answer —
  *    the safe direction for decontamination (never under-flag).
  *  - False-positive rate bounded by the requested fpp, so the
  *    over-flagging is controlled.
  * The exact per-doc overlap fraction stays q96's job; this operator
  * answers the binary "touches the benchmark?" gate, which is how
  * decontamination actually runs at corpus scale.
  *
  * TIERED EVAL SIDE (round 14): the eval set's size spans six orders
  * of magnitude between a single benchmark (10³ shingles) and a full
  * eval suite (10⁹), and the right plan differs. A `limit(cap+1)`
  * probe-collect (the `BandedLsh.splitHot` pattern) picks per run:
  *  - ≤ [[EvalCollectCap]] rows: ONE narrow job collects the eval
  *    hashes; dedup, exact sizing, and the bloom build all happen on
  *    the driver (microseconds at this size), and [[verifiedFlags]]
  *    reuses the same local set as a broadcast verify relation — the
  *    whole eval side costs one job with no shuffle.
  *  - above the cap: the original distributed shape — persist, exact
  *    pre-count for sizing, partial+final `bloom_filter_agg`, shuffle
  *    semi-join verify. The filter bytes stay constant-size no matter
  *    the corpus.
  * Both tiers produce a [[org.apache.spark.util.sketch.BloomFilter]]
  * in the identical serialized form: same distinct-count sizing, same
  * m = −n·ln(p)/ln²2 bit formula, and bloom insertion is idempotent
  * and order-free, so the two tiers build bit-identical filters for
  * the same eval set and probe results are tier-independent (pinned
  * by BloomDecontaminateSpec's tier-equivalence test). Null shingle
  * values are skipped on both tiers.
  */
object BloomDecontaminate {

  /** `expectedItems` sentinel: size the bloom from the eval side
    * itself (collect-dedup when bounded, exact pre-count otherwise).
    * Keeps toy-scale runs from paying megabyte filter construction
    * for a few-hundred-shingle eval set while a 10⁹-shingle suite
    * still gets a correctly-sized filter.
    */
  val AutoSize = -1L

  /** Floor for the auto-sized bloom: below this the filter bytes are
    * noise either way, and a floor guards the empty-eval-set edge.
    */
  val AutoSizeFloor = 1024L

  /** Most eval rows the bounded tier collects (longs; ~8 MB plus row
    * overhead). Counts raw rows, not distinct values, so the probe
    * bounds driver memory even on a duplicate-heavy eval frame.
    */
  val EvalCollectCap = 1000000

  /** Flag corpus rows whose shingle might be contaminated.
    *
    * @param corpusShingles (idCol, shingleCol) rows, shingleCol LONG
    * @param evalShingles single-column frame of eval shingle hashes
    *        (duplicates allowed — both tiers dedup or tolerate them)
    * @param expectedItems sizing for the bloom (eval-set cardinality
    *        estimate; over-sizing only costs bytes, never correctness;
    *        [[AutoSize]] = derive from the eval side)
    * @param fpp target false-positive probability
    * @return corpusShingles plus a `maybe_contaminated` boolean
    */
  def flag(corpusShingles: DataFrame, shingleCol: String,
      evalShingles: DataFrame, evalCol: String,
      expectedItems: Long = AutoSize, fpp: Double = 0.001,
      collectCap: Int = EvalCollectCap): DataFrame = {
    val bytes =
      buildBloom(evalShingles, evalCol, expectedItems, fpp, collectCap) match {
        case Left((b, _)) => b
        case Right((b, release)) =>
          // the filter bytes are materialized — the cached eval frame
          // has no remaining consumer in flag()
          release()
          b
      }
    probe(corpusShingles, shingleCol, bytes)
  }

  /** [[flag]] + exact verification in one operator: rows that pass
    * the bloom prefilter AND truly appear in the eval set (the
    * no-false-positive final answer). The eval side is materialized
    * once per tier: the bounded tier's collected set feeds the bloom
    * and a broadcast local-relation semi-join; the unbounded tier
    * persists the eval frame across sizing count, bloom aggregation,
    * and the shuffle semi-join.
    *
    * @return the flagged-and-verified subset of `corpusShingles`
    *         (original columns, `maybe_contaminated` dropped)
    */
  def verifiedFlags(corpusShingles: DataFrame, shingleCol: String,
      evalShingles: DataFrame, evalCol: String,
      expectedItems: Long = AutoSize, fpp: Double = 0.001,
      collectCap: Int = EvalCollectCap): DataFrame =
    verifiedFlagsWithCleanup(corpusShingles, shingleCol, evalShingles,
      evalCol, expectedItems, fpp, collectCap)._1

  /** [[verifiedFlags]] plus an unpersist handle for the distributed
    * tier's cached eval frame (a no-op in the bounded tier) — call it
    * once the returned frame has been consumed. Long-lived sessions
    * invoking the operator repeatedly outside a clear-cache loop
    * should use this form (the `bandedPairsWithCleanup` policy).
    */
  def verifiedFlagsWithCleanup(corpusShingles: DataFrame, shingleCol: String,
      evalShingles: DataFrame, evalCol: String,
      expectedItems: Long = AutoSize, fpp: Double = 0.001,
      collectCap: Int = EvalCollectCap): (DataFrame, () => Unit) = {
    val spark = corpusShingles.sparkSession
    import spark.implicits._
    buildBloom(evalShingles, evalCol, expectedItems, fpp, collectCap) match {
      case Left((bytes, local)) =>
        val evalLocal = local.toSeq.toDF(shingleCol)
        (probe(corpusShingles, shingleCol, bytes)
          .filter(col("maybe_contaminated"))
          .join(broadcast(evalLocal), Seq(shingleCol), "left_semi")
          .drop("maybe_contaminated"), () => ())
      case Right((bytes, release)) =>
        // the cached eval frame's third and final consumer is the
        // lazy semi-join below — released via the returned handle
        (probe(corpusShingles, shingleCol, bytes)
          .filter(col("maybe_contaminated"))
          .join(evalShingles.select(col(evalCol).as(shingleCol)),
            Seq(shingleCol), "left_semi")
          .drop("maybe_contaminated"), release)
    }
  }

  /** Eval-side build. Left = bounded tier (serialized bloom + the
    * deduped local hash set); Right = distributed tier (bloom bytes +
    * an unpersist handle for the cached eval frame). Null shingle
    * values are ignored on both tiers (the native bloom aggregate
    * skips them; the bounded tier filters them out of the collect).
    */
  private def buildBloom(evalShingles: DataFrame, evalCol: String,
      expectedItems: Long, fpp: Double, collectCap: Int)
      : Either[(Array[Byte], Array[Long]), (Array[Byte], () => Unit)] = {
    val probeRows = evalShingles.select(col(evalCol).cast("long"))
      .limit(collectCap + 1).collect()
    if (probeRows.length <= collectCap) {
      val hs = new java.util.HashSet[java.lang.Long](probeRows.length * 2)
      probeRows.foreach(r => if (!r.isNullAt(0)) hs.add(r.getLong(0)))
      val n = math.max(if (expectedItems > 0) expectedItems else hs.size.toLong,
        AutoSizeFloor)
      val bloom = org.apache.spark.util.sketch.BloomFilter
        .create(n, numBits(n, fpp))
      hs.forEach(x => bloom.putLong(x))
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      val arr = new Array[Long](hs.size)
      var i = 0
      val it = hs.iterator()
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      Left((bos.toByteArray, arr))
    } else {
      // eval set beyond the collect cap: distributed build. Persist —
      // the sizing count materializes the cache the aggregation (and
      // verifiedFlags' semi-join) then reads. Auto-sizing counts
      // DISTINCT values (the bounded tier sizes from its deduped set;
      // a raw row count would inflate the filter bytes by the eval
      // frame's duplication factor — the bytes ship as a plan literal
      // with every task, so oversizing is not free at this tier).
      evalShingles.persist()
      val n = math.max(
        if (expectedItems > 0) expectedItems
        else evalShingles.agg(count_distinct(col(evalCol)))
          .head().getLong(0),
        AutoSizeFloor)
      graft.functions.expressions.GraftFunctions.register(
        evalShingles.sparkSession)
      Right((evalShingles
        .agg(bloomFilterAgg(col(evalCol), n, fpp).as("__bloom"))
        .head().getAs[Array[Byte]](0),
        () => { evalShingles.unpersist(blocking = false); () }))
    }
  }

  private def probe(corpusShingles: DataFrame, shingleCol: String,
      bloomBytes: Array[Byte]): DataFrame = {
    graft.functions.expressions.GraftFunctions.register(
      corpusShingles.sparkSession)
    // the serialized filter ships as a plan literal with the task
    // binary, exactly like the scalar subquery Spark's own runtime
    // filtering injects; `might_contain` is codegen'd
    corpusShingles.withColumn("maybe_contaminated",
      call_function("graft_might_contain", lit(bloomBytes), col(shingleCol)))
  }

  /** Per-document contamination gate: true if ANY of the doc's
    * shingles might touch the eval set.
    */
  def flagDocs(corpusShingles: DataFrame, idCol: String, shingleCol: String,
      evalShingles: DataFrame, evalCol: String,
      expectedItems: Long = AutoSize, fpp: Double = 0.001): DataFrame =
    flag(corpusShingles, shingleCol, evalShingles, evalCol, expectedItems, fpp)
      .groupBy(idCol)
      .agg(max(col("maybe_contaminated")).as("maybe_contaminated"))

  /** The bloom aggregate has no Scala `functions._` wrapper and no
    * public registry entry — call it through the graft-registered name
    * (still Spark's codegen'd native aggregate).
    */
  private def bloomFilterAgg(c: Column, expectedItems: Long, fpp: Double): Column =
    call_function("graft_bloom_agg", c,
      lit(expectedItems), lit(numBits(expectedItems, fpp)))

  /** Standard bloom sizing: m = -n ln(p) / (ln 2)^2. */
  private def numBits(n: Long, p: Double): Long =
    math.ceil(-n * math.log(p) / (math.log(2) * math.log(2))).toLong
}
