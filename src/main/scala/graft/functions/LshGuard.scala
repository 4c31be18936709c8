package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Index-side bucket caps for banded LSH probe joins.
  *
  * A delta-vs-index lookup joins a probe batch's band keys against a
  * standing index's: a degenerate index bucket of m rows multiplies
  * EVERY colliding probe row by m, which AQE's skew splitting cannot
  * bound. The caps here keep at most `maxBucket` representatives per
  * (band, key) in ascending-id order, metered on the
  * `graft.lsh.indexRowsCapped` accumulator with one executor-side
  * warning per capped bucket. The self-join side of banded LSH — the
  * chain-link guard and its occupancy probe — lives in [[BandedLsh]].
  */
object LshGuard {

  /** Default occupancy threshold. At r rows per band and realistic
    * near-dup cluster sizes, genuine clusters sit orders of magnitude
    * below this; only degenerate content (empty docs, boilerplate)
    * concentrates >1000 documents behind one 28·r-bit band key.
    */
  val DefaultMaxBucket = 1000

  /** [[capBuckets]] for a COLLISION-BOUNDED slice — the streaming
    * standing-index probe's semi-joined index slice, whose size is
    * bounded by the batch's collisions, not the index. There the
    * cost calculus inverts: an occupancy probe would be a whole extra
    * job per micro-batch, while an UNCONDITIONAL window cap over the
    * slice is one tiny shuffle inside the probe query itself (the
    * round-12 "window ahead of the join" concern was about
    * corpus-sized banded frames, and does not apply to a slice that
    * is already batch-footprint-sized). Semantics are identical to
    * [[capBuckets]]. The metering pass is non-codegen but runs over
    * the slice only.
    */
  def capBucketsSlice(slice: DataFrame, idCol: String, maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(col("band"), col("key"))
    metered(slice
      .withColumn("__cnt", count(lit(1)).over(part))
      .withColumn("__rn", row_number().over(part.orderBy(col(idCol)))),
      maxBucket)
  }

  /** Index-side guard for probe joins: buckets over `maxBucket` keep
    * only their first `maxBucket` rows in ascending-id order — for the
    * production decision ("does this delta doc collide with the
    * standing corpus?") any bounded set of representatives is
    * sufficient — and buckets at or under the threshold are untouched
    * (structurally: with no hot bucket the input frame is returned
    * as-is, after [[BandedLsh.splitHot]]'s one occupancy-probe job).
    */
  def capBuckets(banded: DataFrame, idCol: String, maxBucket: Int): DataFrame =
    BandedLsh.splitHot(banded, maxBucket) match {
      case (cold, None) => cold
      case (cold, Some(hot)) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("key")).orderBy(col(idCol))
        cold.unionByName(
          metered(hot.withColumn("__rn", row_number().over(w)), maxBucket))
    }

  /** Keeps the rows ranked `__rn` <= `maxBucket` of each bucket
    * (occupancy `__cnt`), adds each capped bucket's overflow to
    * `graft.lsh.indexRowsCapped` and logs it once, on the bucket's
    * first row, then drops the bookkeeping columns.
    */
  private def metered(ranked: DataFrame, maxBucket: Int): DataFrame = {
    val capped = ranked.filter(col("__rn") <= maxBucket)
    val cappedAcc = ranked.sparkSession.sparkContext
      .longAccumulator("graft.lsh.indexRowsCapped")
    val schema = capped.schema
    val cntIdx = schema.fieldIndex("__cnt")
    val rnIdx = schema.fieldIndex("__rn")
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val mb = maxBucket.toLong
    capped.mapPartitions { it =>
      lazy val log = org.slf4j.LoggerFactory.getLogger("graft.lsh.guard")
      it.map { r =>
        if (r.getInt(rnIdx) == 1 && r.getLong(cntIdx) > mb) {
          val m = r.getLong(cntIdx)
          cappedAcc.add(m - mb)
          log.warn(s"hot LSH index bucket: $m rows behind one band key; " +
            s"capped to $mb representatives (dropped ${m - mb})")
        }
        r
      }
    }(enc).drop("__cnt", "__rn")
  }
}
