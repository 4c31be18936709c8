package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

/** The banded-LSH engine behind the MinHash ([[MinHashLsh]]), SimHash
  * ([[SimHashFamily]]) and random-hyperplane
  * (`graft.operators.EmbedNearDup`) near-duplicate families. A family
  * is a thin [[Family]] adapter — its signature kernel and band-key
  * emitter; everything else lives here once:
  *
  *  - grid occupancy: ONE explode over the family input emits every
  *    grid config's (cfg, band, key) rows, aggregated to per-bucket
  *    occupancy `m` ([[occupancy]]);
  *  - the |grid|-row sweep: exact banded-join load Σ m·(m−1)/2 and the
  *    signed-row count per config ([[sweep]]);
  *  - the one selection comparator ([[select]]): over the grid sorted
  *    most-recall-first, the first config whose load fits the per-row
  *    pair budget wins and the last (lowest-load) config is the
  *    fallback;
  *  - the fused calibration ([[calibrate]]): the sweep's occupancy is
  *    persisted for the call, so the selected config's over-cap
  *    buckets come from a cached-scan filter rather than a second
  *    corpus-wide aggregation;
  *  - execution ([[execute]]): the band self-join with the hot-bucket
  *    guard below.
  *
  * HOT-BUCKET GUARD. A banded candidate join is an equi-join on
  * (band, key). AQE's skew-join splitting re-balances *partitions*,
  * but cannot bound the O(m²) pair count of one degenerate key —
  * millions of empty or boilerplate documents behind one band key
  * emit ~10¹² pairs however the partitions are split. Buckets over
  * `maxBucket` rows therefore skip the all-pairs join and are
  * chain-linked: each row paired with its predecessor in
  * (content, id) order, where content is the family's full signature,
  * fingerprint or quantized vector. A chain emits m−1 pairs instead of
  * m(m−1)/2 and keeps the bucket one connected component; buckets at
  * or under the cap — every non-degenerate pair — are untouched.
  * Ordering by content FIRST makes content-identical rows contiguous
  * runs whose links score est = 1 / hamming 0 / cos = 1, so they
  * survive the similarity filter consumers apply afterwards; only
  * cross-run links (genuinely dissimilar rows, which the unguarded
  * join would filter too) can fall below it. The one shape the guard
  * changes: rows similar-but-not-identical inside a hot bucket may
  * connect through it on the unguarded path but not via the chains —
  * the documented trade of capping a degenerate bucket.
  *
  * Hot buckets are found by a partial-aggregate occupancy probe
  * ([[splitHot]]) or, after a fused calibration, are already known
  * ([[splitHotKnown]]); with none, the cold side IS the input frame
  * and the plan is the unguarded self-join — fully codegen'd, no added
  * exchange. Each run with a hot side registers two named accumulators
  * (`graft.lsh.hotBuckets`, `graft.lsh.suppressedPairs`, read through
  * [[lastMetrics]]) and logs one executor-side warning per hot bucket.
  */
object BandedLsh {

  /** What one banded family supplies to the engine. Configs are ints
    * whose meaning is the family's own: bands (MinHash), bits per
    * band (SimHash), planes per band (hyperplane).
    */
  trait Family {
    /** The row id column; the pair columns `a`/`b` carry its values. */
    def idCol: String

    /** Configs sorted most-recall-first: more bands (MinHash), fewer
      * bits per band (SimHash), fewer planes per band (hyperplane).
      */
    def recallOrder: Ordering[Int]

    /** Number of bands in config `cfg`. */
    def bands(cfg: Int): Int

    /** The frame the grid keys read: the family input, or a prelude
      * projection of it shared by every config of `grid` (the
      * hyperplane sign mask).
      */
    def gridInput(grid: Seq[Int]): DataFrame

    /** Config `cfg`'s key for band `band`, over [[gridInput]]. */
    def gridKey(cfg: Int, band: Int): Column

    /** The banded frame at one config: one row per (row, band) with
      * `idCol`, `band`, `key` and the payload columns [[pair]] reads.
      */
    def banded(cfg: Int): DataFrame

    /** Order of a hot bucket's chain, before the id tie-break. */
    def content: Column

    /** The pair columns after `a`/`b`, from accessors of the lower-id
      * and higher-id sides' banded columns.
      */
    def pair(lo: String => Column, hi: String => Column): Seq[Column]
  }

  /** Per-bucket occupancy of the WHOLE grid in one aggregation:
    * (cfg, band, key, m). A distributed intermediate, never collected:
    * a wide key's keyspace exceeds any corpus, so everything
    * driver-side derives from its |grid|-row [[sweep]] or its over-cap
    * filtrate, both small.
    */
  def occupancy(fam: Family, grid: Seq[Int]): DataFrame = {
    require(grid.nonEmpty, "the config grid must be non-empty")
    val keys = for { c <- grid; b <- 0 until fam.bands(c) } yield
      struct(lit(c).as("cfg"), lit(b).as("band"), fam.gridKey(c, b).as("key"))
    fam.gridInput(grid).select(explode(array(keys: _*)).as("__gk"))
      .select(col("__gk.cfg").as("cfg"), col("__gk.band").as("band"),
        col("__gk.key").as("key"))
      .groupBy("cfg", "band", "key")
      .agg(count(lit(1)).as("m"))
  }

  /** Per-config stats over an [[occupancy]] frame: (cfg, cand_pairs,
    * n_docs), |grid| rows. `cand_pairs` is the exact banded-join
    * candidate multiset size; every signed row opens exactly one key
    * per band, so `n_docs` is band 0's total occupancy.
    */
  def sweep(occ: DataFrame): DataFrame =
    occ.groupBy("cfg")
      .agg(sum(expr("(m * (m - 1)) div 2")).as("cand_pairs"),
        sum(when(col("band") === 0, col("m"))).as("n_docs"))

  /** The one selection comparator (ARCHITECTURE calibration table):
    * with `grid` sorted most-recall-first, the first config whose load
    * fits `budget` pairs per signed row wins; the last (lowest-load)
    * config is the fallback, also on an empty frame.
    *
    * @return (selected config, whether it fits the budget)
    */
  def select(occ: DataFrame, fam: Family, grid: Seq[Int],
      budget: Long): (Int, Boolean) = {
    val ordered = grid.sorted(fam.recallOrder)
    val stats = sweep(occ)
    graft.PlanProbe.record("bandedlsh.sweep", stats)
    val fitting = stats.collect().collect {
      case r if r.getAs[Long]("cand_pairs") <= r.getAs[Long]("n_docs") * budget =>
        r.getAs[Int]("cfg")
    }.toSet
    ordered.find(fitting).fold((ordered.last, false))((_, true))
  }

  /** The over-cap buckets a fused calibration hands [[execute]]:
    * `Some((rows, schema))` in the [[splitHotKnown]] contract, or
    * `None` past [[HotKeyCollectCap]] (execute then probes).
    */
  type Hot = Option[(Seq[Row], StructType)]

  /** Calibration fused with hot-bucket discovery: the occupancy is
    * persisted for the duration of the call, the |grid|-row stats are
    * collected and a config selected, and the selected config's
    * over-cap buckets are collected from the cached occupancy.
    */
  def calibrate(fam: Family, grid: Seq[Int], budget: Long,
      maxBucket: Int): (Int, Hot) = {
    val occ = occupancy(fam, grid).persist()
    try {
      val (cfg, _) = select(occ, fam, grid, budget)
      (cfg, collectHot(occ, cfg, maxBucket))
    } finally { occ.unpersist(blocking = false); () }
  }

  /** [[calibrate]] then [[execute]] at the selected config.
    *
    * @return (selected config, distinct candidate pairs, the banded
    *         frame's unpersist handle — call it once the pairs are
    *         consumed)
    */
  def calibratedPairs(fam: Family, grid: Seq[Int], budget: Long,
      maxBucket: Int): (Int, DataFrame, () => Unit) = {
    val (cfg, hot) = calibrate(fam, grid, budget, maxBucket)
    val (pairs, release) = execute(fam, cfg, hot, maxBucket)
    (cfg, pairs, release)
  }

  /** The selected config's over-cap buckets from a (cached) occupancy
    * frame, in the [[splitHotKnown]] row contract (`__cnt` third).
    */
  def collectHot(occ: DataFrame, cfg: Int, maxBucket: Int): Hot = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val hotFrame = occ.filter(col("cfg") === cfg && col("m") > maxBucket)
      .select(col("band"), col("key"), col("m").as("__cnt"))
    val hot = hotFrame.limit(HotKeyCollectCap + 1).collect()
    if (hot.length > HotKeyCollectCap) None
    else Some((hot.toSeq, hotFrame.schema))
  }

  /** Distinct candidate pairs at config `cfg`: (a, b, pair columns…)
    * with a < b. With the hot set known and empty, the pair join is a
    * pure self-join of the UNPERSISTED banded frame — its two sides
    * plan the identical exchange, which AQE's stage reuse materializes
    * once, so no persist and no count job run. Otherwise the banded
    * frame is persisted: a known hot set splits it after a
    * shuffle-free count (against an unmaterialized cache the join's
    * concurrent map stages would each compute the band keys), an
    * unknown one (`None`) through the [[splitHot]] probe, whose scan
    * materializes the cache.
    *
    * @note The no-hot path leans on two preconditions. Exchange reuse
    *       (`spark.sql.exchange.reuse`) is checked here: with it off,
    *       the persist + count path runs instead, so the band-key pass
    *       still runs once. The caller must have persisted the family
    *       input: each join side re-reads it, and an unpersisted input
    *       re-executes its whole upstream chain there. (A join planned
    *       as a broadcast has no shared exchange: its build and stream
    *       sides each run the band-key pass — over a frame small
    *       enough to broadcast.)
    * @return (pairs, the banded frame's unpersist handle)
    */
  def execute(fam: Family, cfg: Int, hot: Hot,
      maxBucket: Int): (DataFrame, () => Unit) = {
    val raw = fam.banded(cfg)
    hot match {
      case Some((rows, _)) if rows.isEmpty && raw.sparkSession.conf
          .get(SQLConf.EXCHANGE_REUSE_ENABLED.key, "true").toBoolean =>
        (pairsFromSplit(fam, (raw, None)), () => ())
      case _ =>
        val banded = raw.persist()
        val split = hot match {
          case Some((rows, schema)) =>
            banded.count(): Unit
            splitHotKnown(banded, rows, schema)
          case None => splitHot(banded, maxBucket)
        }
        (pairsFromSplit(fam, split),
          () => { banded.unpersist(blocking = false); () })
    }
  }

  /** Exact all-pairs on the cold side, (content, id)-ordered chain
    * links on the hot side, each projected to the family's pair
    * columns before the union and `distinct()` (a pair sharing several
    * bands, cold in one and chained in another, appears once).
    */
  private def pairsFromSplit(fam: Family,
      split: (DataFrame, Option[DataFrame])): DataFrame = {
    val (cold, hotOpt) = split
    val id = fam.idCol
    // a < b as a filter above the equi-join, not a join conjunct: a
    // similarity filter pushed down later lands after it in the join
    // condition, so the cheap id comparison runs first
    val coldPairs = cold.as("l").join(cold.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .filter(col(s"l.$id") < col(s"r.$id"))
      .select(Seq(col(s"l.$id").as("a"), col(s"r.$id").as("b")) ++
        fam.pair(c => col(s"l.$c"), c => col(s"r.$c")): _*)
    val hotPairs = hotOpt.map { hot =>
      val ordered = Window.partitionBy(col("band"), col("key"))
        .orderBy(fam.content.asc, col(id).asc)
      val self = struct(hot.columns
        .filterNot(Set("band", "key", "__cnt")).map(col).toSeq: _*)
      val prevFirst = col("__prev")(id) < col(id)
      val (lo, hi) = (col("__lo"), col("__hi"))
      instrument(hot
        .withColumn("__prev", lag(self, 1).over(ordered))
        .withColumn("__rn", row_number().over(ordered))
        .filter(col("__prev").isNotNull)
        .withColumn("__lo", when(prevFirst, col("__prev")).otherwise(self))
        .withColumn("__hi", when(prevFirst, self).otherwise(col("__prev")))
        .select(Seq(lo(id).as("a"), hi(id).as("b")) ++
          fam.pair(lo(_), hi(_)) ++ Seq(col("__cnt"), col("__rn")): _*))
    }
    hotPairs.fold(coldPairs)(coldPairs.unionByName).distinct()
  }

  /** Most hot (band, key) keys collected to the driver. At the default
    * `maxBucket` = 1000 this bounds the driver-side set to ~4 MB; a
    * corpus with more hot keys (over 10⁸ rows of pure boilerplate)
    * takes the distributed split instead of failing.
    */
  val HotKeyCollectCap = 100000

  final class Metrics(val hotBuckets: LongAccumulator,
      val suppressedPairs: LongAccumulator)

  @volatile private var last: Metrics = _

  /** Metrics of the most recently *constructed* guarded join in this
    * JVM (set only when a hot side exists; the accumulators update as
    * the job runs). Introspection hook for specs and ops.
    */
  def lastMetrics: Option[Metrics] = Option(last)

  /** Splits a banded frame (`band` and `key` columns) into (cold, hot)
    * on per-bucket occupancy: the hot side — `None` when no bucket
    * exceeds `maxBucket`, with cold then the INPUT FRAME UNCHANGED —
    * carries every row of each over-cap bucket plus its occupancy as
    * `__cnt`.
    *
    * EAGER: one map-side-combined aggregate job over `banded` at call
    * time decides the plan shape. Callers persist `banded` first so
    * the probe's scan doubles as the cache materialization the
    * self-join needs.
    */
  def splitHot(banded: DataFrame, maxBucket: Int): (DataFrame, Option[DataFrame]) = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val hotKeys = banded.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > maxBucket)
    graft.PlanProbe.record("bandedlsh.splitHot.occupancyProbe", hotKeys)
    val probe = hotKeys.limit(HotKeyCollectCap + 1).collect()
    if (probe.isEmpty) (banded, None)
    else if (probe.length <= HotKeyCollectCap)
      splitHotKnown(banded, probe.toSeq, hotKeys.schema)
    else {
      // pathological corpus (≥ cap hot keys): keep the split lazy and
      // distributed; AQE still broadcasts `hotKeys` when it fits
      (banded.join(hotKeys.select("band", "key"), Seq("band", "key"), "left_anti"),
        Some(banded.join(hotKeys, Seq("band", "key"))))
    }
  }

  /** [[splitHot]] when the over-cap buckets are ALREADY KNOWN: zero
    * probe jobs — the hot set broadcasts from the driver and the split
    * is the same hash anti/semi lookup pair. `hotRows` must be exactly
    * the over-cap buckets, in a schema whose band/key types match
    * `banded`'s, with the occupancy as a third `__cnt` column.
    */
  private def splitHotKnown(banded: DataFrame, hotRows: Seq[Row],
      hotSchema: StructType): (DataFrame, Option[DataFrame]) = {
    if (hotRows.isEmpty) (banded, None)
    else {
      val local = banded.sparkSession.createDataFrame(
        java.util.Arrays.asList(hotRows: _*), hotSchema)
      val cold = banded.join(broadcast(local.select("band", "key")),
        Seq("band", "key"), "left_anti")
      val hot = banded.join(broadcast(local), Seq("band", "key"))
      (cold, Some(hot))
    }
  }

  /** Pass-through instrumentation of the chained hot-pair rows: bumps
    * the accumulators and logs once per hot bucket (on its first
    * emitted pair, `__rn` == 2), then drops the bookkeeping columns.
    * Only in the plan when a hot bucket exists, so the non-codegen
    * stage never touches the common case.
    */
  private def instrument(hotPairs: DataFrame): DataFrame = {
    val sc = hotPairs.sparkSession.sparkContext
    val buckets = sc.longAccumulator("graft.lsh.hotBuckets")
    val suppressed = sc.longAccumulator("graft.lsh.suppressedPairs")
    last = new Metrics(buckets, suppressed)
    val schema = hotPairs.schema
    val cntIdx = schema.fieldIndex("__cnt")
    val rnIdx = schema.fieldIndex("__rn")
    val enc = org.apache.spark.sql.Encoders.row(schema)
    hotPairs.mapPartitions { it =>
      lazy val log = org.slf4j.LoggerFactory.getLogger("graft.lsh.guard")
      it.map { r =>
        if (r.getInt(rnIdx) == 2) {
          val m = r.getLong(cntIdx)
          buckets.add(1)
          suppressed.add(m * (m - 1) / 2 - (m - 1))
          log.warn(s"hot LSH bucket: $m rows behind one band key; " +
            s"chain-linked to ${m - 1} pairs " +
            s"(suppressed ${m * (m - 1) / 2 - (m - 1)})")
        }
        r
      }
    }(enc).drop("__cnt", "__rn")
  }
}
