package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.{LshGuard, MinHashLsh, TextFns}

/** Streaming near-duplicate ingestion against a standing LSH index —
  * the production LLM-ingest shape, composing the two halves the
  * batch registry pins separately: q161's delta-vs-index band probe
  * and CorpusIngest's idempotent exactly-once landing.
  *
  * The STANDING INDEX is a parquet table of banded MinHash signatures
  * (band, key, s0..s{k-1}, id) — built once from the existing corpus
  * by [[writeIndex]], probed by every micro-batch, and APPENDED with
  * each batch's landed documents so later batches dedup against
  * earlier deltas, not just the original corpus. State is therefore
  * store-bounded, not state-store-bounded: the index IS the streaming
  * state, held in a table the way a 100 TB deployment would hold it
  * (Spark's per-key state stores cannot hold a corpus-wide signature
  * index, and a band probe is an equi-join, not a keyed lookup).
  *
  * SUBLINEAR PROBES (round 15 — the scale contract): a per-batch cost
  * proportional to the standing index would make every trigger pay a
  * cluster-wide linear scan at a 100 TB corpus. Two structures bound
  * the probe to the batch's own footprint instead:
  *
  *  - the index is a two-level, LSM-shaped layout under
  *    `(batch_id, bkt)` partitioning: the BASE partition is bucketed
  *    by a band-key hash ([[bucketOf]], bucket count scaled to the
  *    corpus by [[bucketCountFor]] and recorded in the config
  *    sidecar), while per-batch appends land as single-directory
  *    UNBUCKETED L0 runs ([[UnbucketedRun]]). A micro-batch collects
  *    its touched bucket set (≤ the bucket count — bounded by
  *    construction, not by batch size) and the probe reads ONLY those
  *    base leaf dirs plus the L0 runs — enumerated from the layout
  *    before any file listing ([[readTouchedBuckets]]), so neither
  *    listing nor scan grows with the index. L0 bytes are bounded by
  *    the [[compactIndex]] cadence, exactly an LSM's L0 contract.
  *  - the probe's ONE scan of that pruned slice is immediately
  *    semi-joined to the batch's keys: only COLLIDING rows survive,
  *    and a colliding bucket's occupancy is exact on the slice
  *    (bucket membership is key equality, which is the collision
  *    predicate), so the hot-bucket cap is
  *    [[LshGuard.capBucketsSlice]]'s unconditional window over the
  *    slice — replacing the full-index `groupBy(band, key)` the
  *    round-14 guard recomputed every trigger, with no per-trigger
  *    occupancy job at all. The per-(band, key) occupancy sidecar
  *    ([[occDir]], maintained at build and compaction) is the
  *    MAINTENANCE artifact: it gives [[indexedDocCount]] and the
  *    [[maybeRecalibrate]] drift trigger their O(keys) answer without
  *    touching the index.
  *  - the CROSS-BATCH ID dedup applies the same discipline to the
  *    store side (round 16): live batch partitions double as the id
  *    L0 runs (their id columns, compaction-bounded) and the
  *    [[IdLedger]] base holds compacted-away ids hash-bucketed, so
  *    the re-delivered-id anti-join reads the batch's touched id
  *    buckets instead of scanning the full store id column every
  *    trigger — the last O(landed-corpus)-per-trigger term, gone, at
  *    ZERO extra per-trigger writes.
  *
  * Per micro-batch ([[ingestBatch]]):
  *  1. in-batch id collapse (deterministic min-md5 pick — the D1/D3
  *     pick-one contract) FIRST, so the probe, the landed rows, and
  *     the indexed signatures all derive from one frame (a
  *     re-delivered id can never index content a different copy
  *     landed);
  *  2. one zero-shuffle signature pass over the batch
  *     (`signaturesFromTokens` — the batch is the small side);
  *  3. band-key equi-join against the PRUNED index, hot buckets
  *     capped to `maxBucket` representatives (overflow metered on
  *     `graft.lsh.indexRowsCapped`);
  *  4. docs whose best match reaches `threshold` are dropped;
  *     re-delivered ids are dropped by an anti-join against the
  *     [[IdLedger]] slice — live batch partitions' id columns plus
  *     the batch's touched buckets of the folded-id base (the id-side
  *     twin of the index probe: per-trigger cost bounded by the batch
  *     footprint and the compaction cadence, not the landed corpus);
  *     the rest land exactly-once via [[CorpusIngest.landPrepared]]
  *     (partition-directory idempotence, so a checkpoint-replayed
  *     batch neither double-lands docs nor double-appends the index);
  *  5. landed docs' band keys append to the index as the batch's L0
  *     run — store and index each guarded by their own `batch_id`
  *     partition, so a crash between the two writes is completed
  *     (only the missing one, from the store partition's landed
  *     truth) by the replay.
  *
  * SEMANTICS (duplicate-blind within one micro-batch): a batch's
  * documents probe the index as it stood BEFORE the batch; two
  * near-duplicate documents arriving in the same micro-batch both
  * land (and index), exactly as two docs racing into any
  * last-writer-wins store. Identical *ids* within a batch are still
  * collapsed by the up-front id dedup. This makes the stream's result
  * a pure function of (index₀, batch partition, batch order) — the
  * batch-replay parity the q188 oracle replays as chained CTEs.
  *
  * LIFECYCLE: per-batch appends accrete one partition per batch;
  * [[compactIndex]] folds old batch partitions into the base
  * partition (recording the folded ids so replay idempotence
  * survives) and bin-packs files via `operators.Compact`.
  * [[maybeRecalibrate]] is the drift policy: when the standing corpus
  * has outgrown the geometry's calibration baseline, the band-count
  * sweep re-runs over the index's own signatures and the index is
  * rebuilt only if the selection changed. Both are maintenance
  * operations for a quiesced stream (the same contract as any
  * non-transactional table rewrite).
  */
object NearDupIngest {

  /** Batch id of the initial (pre-stream) corpus index partition. */
  val InitialIndexBatch = -1L

  /** Per-phase wall-clock accumulator for [[ingestBatch]] — the
    * Q188FloorSpec referee protocol (VERDICT r18 #5): each trigger's
    * eager sections add their nanos under a stable phase name, so the
    * per-trigger cost decomposes into idempotence checks / in-batch
    * dedup+signature+band probe / ledger id probe / store landing /
    * index append without guessing from stage names. Always on: a few
    * nanoTime pairs per trigger.
    *
    * Scoping (round 20 — ADVICE r19): totals are keyed by the
    * ingest's `storeDir`, so two concurrent ingest streams in one
    * driver (or a stream racing a referee run against a different
    * store) accumulate independently — read/clear your own stream
    * with [[snapshotFor]]/[[reset(key:String)*]]. The
    * no-arg [[snapshot]]/[[reset()]] merge/clear ACROSS keys: the
    * single-stream-harness convenience (the Q188FloorSpec shape),
    * meaningful only when the driver runs one ingest at a time.
    */
  object PhaseTimes {
    private val m = new java.util.concurrent.ConcurrentHashMap[
      (String, String), java.lang.Long]()
    def reset(): Unit = m.clear()
    def reset(key: String): Unit = m.keySet.removeIf(_._1 == key): Unit
    private[streaming] def timed[T](key: String, name: String)
        (body: => T): T = {
      val t0 = System.nanoTime()
      try body finally {
        m.merge((key, name),
          java.lang.Long.valueOf(System.nanoTime() - t0),
          (a, b) => java.lang.Long.valueOf(a + b))
        ()
      }
    }
    /** Phase totals for ONE stream's store (the scoped accessor). */
    def snapshotFor(key: String): Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      m.forEach((k, v) => if (k._1 == key) b += (k._2 -> v.longValue()))
      b.result()
    }
    /** Phase totals merged across every store key (single-stream
      * harness convenience — conflates concurrent streams by design).
      */
    def snapshot: Map[String, Long] = {
      val acc = scala.collection.mutable.Map.empty[String, Long]
      m.forEach { (k, v) =>
        acc.update(k._2, acc.getOrElse(k._2, 0L) + v.longValue())
      }
      acc.toMap
    }
  }

  /** Sentinel `bkt` value of an UNBUCKETED per-batch append run. The
    * index is a two-level (LSM-shaped) layout: the BASE partition
    * (`batch_id=-1`) is bucketed by band-key hash and carries the
    * occupancy sidecar; per-batch appends land as single-directory L0
    * runs under this sentinel — a micro-batch append must not pay one
    * tiny file per touched bucket (measured at ~2.5 s/batch of pure
    * file-commit overhead), and the probe reads L0 runs in full
    * anyway (they are bounded by the compaction cadence, not the
    * corpus), counting their occupancy on the fly. [[compactIndex]]
    * folds L0 runs into the bucketed base and rebuilds the sidecar.
    */
  val UnbucketedRun = -1

  /** Minimum band-key hash buckets the index (and its occupancy
    * sidecar) are partitioned into. A probe prunes to its batch's
    * touched buckets, so the bucket count bounds the per-batch scan:
    * a batch touching t buckets scans t buckets of ~
    * [[DocsPerBucketTarget]]·bands rows each. The count is a LAYOUT
    * property recorded in the [[ConfigFile]] (every probe and append
    * must bucket with the index's own count — a mismatched bucketing
    * would prune away true matches), scaled with corpus size by
    * [[bucketCountFor]] at build and rebuild time so per-bucket size
    * stays bounded as the index grows — that re-bucketing, not a
    * fixed partition count, is what keeps the probe sublinear across
    * decades.
    */
  val IndexBuckets = 64

  /** Docs each band-key bucket targets — the probe's per-touched-
    * bucket scan cost stays near this × bands rows as the index
    * grows, because [[bucketCountFor]] raises the bucket count
    * instead.
    */
  val DocsPerBucketTarget = 1000L

  /** Bucket count for a corpus of `nDocs` signed documents: the next
    * power of two holding [[DocsPerBucketTarget]] docs per bucket, at
    * least [[IndexBuckets]], capped at 2^20 partitions.
    */
  def bucketCountFor(nDocs: Long): Int = {
    val want = math.max(IndexBuckets.toLong,
      (nDocs + DocsPerBucketTarget - 1) / DocsPerBucketTarget)
    var b = IndexBuckets
    while (b < want && b < (1 << 20)) b <<= 1
    b
  }

  /** Hash bucket of a numeric band key: its top 24 bits (so the cap
    * of 2^20 buckets stays uniform) mod the index's bucket count —
    * computable on both the write and probe side from the key alone.
    * The top 24 bits of the 60-bit key ARE the md5's first 6 hex
    * chars, so bucket assignment is bit-identical to the pre-numeric
    * layout's `conv(substr(key, 1, 6), 16, 10)` — only the key
    * column's representation changed, never the bucketing.
    */
  def bucketOf(key: Column, buckets: Int): Column =
    pmod(shiftright(key,
        (graft.functions.MinHashLsh.BandKeyHexChars - 6) * 4),
      lit(buckets.toLong)).cast("int")

  /** Occupancy sidecar location: per-(band, key) counts for the BASE
    * partition, under the index dir (underscore-prefixed, so index
    * scans skip it). A flat table — the probe never reads it (it
    * counts its own collision slice exactly); it serves
    * [[indexedDocCount]] and the [[maybeRecalibrate]] drift trigger,
    * whose whole-table aggregation is the intended access pattern.
    */
  def occDir(indexDir: String): String = s"$indexDir/_graft_occupancy"

  /** Build the standing index table from a corpus frame with
    * (`idCol`, `tokensCol`) columns: banded signatures, written once.
    * Partitioned by `(batch_id, bkt)` (the initial corpus under
    * [[InitialIndexBatch]]) so per-batch appends are independently
    * idempotent, a replaying batch can exclude its own partial
    * partition from the probe, and probes prune on the band-key
    * bucket.
    */
  def writeIndex(corpus: DataFrame, indexDir: String, idCol: String = "doc_id",
      tokensCol: String = "t", shingleWidth: Int = 3, k: Int = 12,
      bands: Int = 4, buckets: Int = IndexBuckets): Unit = {
    writeIndexFrom(MinHashLsh.signaturesFromTokens(
      corpus, idCol, tokensCol, shingleWidth, k), indexDir, idCol, k, bands,
      buckets)
    writeConfig(corpus.sparkSession, indexDir, k, bands, shingleWidth,
      buckets, nDocs = None)
  }

  /** The one on-disk index layout, shared by the fixed-geometry and
    * calibrated builds so they can never diverge in shape. The
    * occupancy sidecar's initial partial aggregates the SAME persisted
    * banded frame the index write consumed (not a read-back of the
    * written files), so the two writes see one row multiset; the
    * sidecar is re-derivable from the base at any time
    * (rebuildOccupancy) if they ever need reconciling.
    */
  private def writeIndexFrom(sigs: DataFrame, indexDir: String,
      idCol: String, k: Int, bands: Int, buckets: Int): Unit = {
    // cluster by bucket before the write: without it every task
    // writes a sliver into every touched bucket dir, and the file
    // count (what every later probe's LISTING pays, before pruning
    // saves a single byte) multiplies as tasks × buckets instead of
    // one-per-bucket. Persisted so the occupancy partial is computed
    // from the same frame without re-running the signature scan.
    val banded = MinHashLsh.bandKeys(sigs, idCol, k, bands)
      .withColumn("bkt", bucketOf(col("key"), buckets))
      .persist()
    try {
      banded.withColumn("batch_id", lit(InitialIndexBatch))
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("batch_id", "bkt")
        .parquet(indexDir)
      // the partitioned job's _SUCCESS lands at the table ROOT; touch
      // the base partition's own marker so the committed-leaf check
      // (CorpusIngest.committedLeaf — per-leaf markers) reads it as
      // landed
      CorpusIngest.markCommitted(banded.sparkSession,
        s"$indexDir/batch_id=$InitialIndexBatch")
      banded.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(occDir(indexDir))
    } finally banded.unpersist(blocking = false)
  }

  /** Sidecar recording the geometry an index was built with, so every
    * future probe uses the same (k, bands, shingleWidth) — a probe at
    * a different geometry than the index silently matches nothing —
    * and the layout's band-key bucket count (a probe or append
    * bucketing with a different count would prune away true matches).
    * Calibrated builds also record `nDocs`, the signed-document count
    * at calibration time — [[maybeRecalibrate]]'s drift baseline.
    */
  val ConfigFile = "_graft_lsh_config.json"

  /** On-disk band-key representation this engine writes and probes:
    * 2 = 60-bit numeric keys ([[graft.functions.MinHashLsh.bandKeyCol]]).
    * Version 1 (or a sidecar predating the field) is the legacy
    * 32-hex md5 STRING layout — a probe or append against it with
    * numeric keys would silently match nothing (every true collision
    * missed, every duplicate re-landed), so version-mismatched
    * indexes FAIL FAST ([[requireKeySchema]]) instead.
    */
  val BandKeySchemaVersion = 2L

  /** Fail fast when `indexDir`'s sidecar records a band-key layout
    * other than [[BandKeySchemaVersion]]. Called on every entry point
    * that joins against or appends to the index's key column; a
    * missing sidecar is handled by the callers' own absent-config
    * paths (fixed-geometry indexes predating the calibrated sidecar).
    */
  private def requireKeySchema(spark: SparkSession, indexDir: String): Unit =
    readConfig(spark, indexDir).foreach { cfg =>
      val v = fieldOpt(cfg, "keySchema").getOrElse(1L)
      if (v != BandKeySchemaVersion) sys.error(
        s"index at $indexDir was built with band-key schema v$v " +
          s"(32-hex md5 string keys); this engine reads/writes " +
          s"v$BandKeySchemaVersion (60-bit numeric keys). Probing it " +
          "would silently miss every collision — rebuild the index " +
          "with writeIndex/writeIndexCalibrated before ingesting.")
    }

  /** [[writeIndex]] with the band count CALIBRATED from the corpus
    * itself ([[MinHashLsh.calibrateBands]] — most bands within
    * `pairsPerDocBudget`, the q185/q186 rule) instead of assumed, and
    * the selected geometry persisted in the [[ConfigFile]] sidecar
    * for [[startCalibrated]] to probe with. One signature pass feeds
    * both the sweep and the index write.
    *
    * @return the selected band count
    */
  def writeIndexCalibrated(corpus: DataFrame, indexDir: String,
      idCol: String = "doc_id", tokensCol: String = "t",
      shingleWidth: Int = 3, k: Int = 12,
      bandGrid: Seq[Int] = Seq(2, 3, 4, 6),
      pairsPerDocBudget: Long = 20L): Int = {
    val sigs = MinHashLsh.signaturesFromTokens(
      corpus, idCol, tokensCol, shingleWidth, k).persist()
    try {
      val bands =
        MinHashLsh.calibrateBands(sigs, idCol, k, bandGrid, pairsPerDocBudget)
      val n = sigs.count()
      val buckets = bucketCountFor(n)
      writeIndexFrom(sigs, indexDir, idCol, k, bands, buckets)
      writeConfig(corpus.sparkSession, indexDir, k, bands, shingleWidth,
        buckets, nDocs = Some(n))
      bands
    } finally sigs.unpersist(blocking = false)
  }

  /** The geometry an index was built with, from its sidecar. */
  def indexConfig(spark: SparkSession, indexDir: String)
      : Option[(Int, Int, Int)] =
    readConfig(spark, indexDir).map { s =>
      (field(s, "k"), field(s, "bands"), field(s, "shingleWidth"))
    }

  /** The signed-document count recorded at calibration time (absent
    * for fixed-geometry or pre-round-15 indexes).
    */
  def calibrationDocCount(spark: SparkSession, indexDir: String)
      : Option[Long] =
    readConfig(spark, indexDir).flatMap(fieldOpt(_, "nDocs"))

  /** The band-key bucket count the index was laid out with. Defaults
    * to [[IndexBuckets]] only when the sidecar EXISTS but predates the
    * field — the constant every pre-field index was written with. A
    * missing sidecar fails fast: the config is written LAST by every
    * build path, so its absence means the build never completed, and
    * probing with a guessed bucket count would read the wrong base
    * leaf dirs and silently land (and index) true near-duplicates.
    */
  def indexBucketCount(spark: SparkSession, indexDir: String): Int = {
    val cfg = readConfig(spark, indexDir).getOrElse(sys.error(
      s"no $ConfigFile under $indexDir — the index build did not" +
        " complete (the config sidecar is written last); rebuild with" +
        " writeIndex/writeIndexCalibrated instead of probing with a" +
        " guessed bucket layout"))
    fieldOpt(cfg, "buckets").map(_.toInt).getOrElse(IndexBuckets)
  }

  private def readConfig(spark: SparkSession, indexDir: String)
      : Option[String] = Lsm.readSidecar(spark, indexDir, ConfigFile)

  private def fieldOpt(s: String, name: String): Option[Long] =
    Lsm.jsonLong(s, name)

  private def field(s: String, name: String): Int =
    fieldOpt(s, name)
      .getOrElse(sys.error(s"$ConfigFile missing field '$name': $s")).toInt

  /** Crash-safe via [[Lsm.writeSidecar]]'s tmp+rename: a truncate-in-
    * place crash window would leave a present-but-corrupt sidecar
    * whose garbage falls through to the IndexBuckets default —
    * precisely the guessed-bucket-layout silent miss the read-side
    * fail-fast guards against.
    */
  private def writeConfig(spark: SparkSession, indexDir: String,
      k: Int, bands: Int, shingleWidth: Int, buckets: Int,
      nDocs: Option[Long]): Unit =
    Lsm.writeSidecar(spark, indexDir, ConfigFile,
      s"""{"k": $k, "bands": $bands, "shingleWidth": $shingleWidth,""" +
        s""" "buckets": $buckets, "keySchema": $BandKeySchemaVersion""" +
        nDocs.map(n => s""", "nDocs": $n""").getOrElse("") + "}")

  /** [[start]] probing with the geometry recorded in the index's
    * [[ConfigFile]] sidecar (written by [[writeIndexCalibrated]]) —
    * the full calibrate-at-build, probe-consistently-forever loop.
    */
  def startCalibrated(docs: DataFrame, indexDir: String, storeDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5,
      maxBucket: Int = LshGuard.DefaultMaxBucket,
      checkpointDir: Option[String] = None) = {
    val (k, bands, shingleWidth) = indexConfig(docs.sparkSession, indexDir)
      .getOrElse(sys.error(
        s"no $ConfigFile under $indexDir — build with writeIndexCalibrated," +
          " or call start() with explicit geometry"))
    start(docs, indexDir, storeDir, idCol, textCol, threshold,
      shingleWidth, k, bands, maxBucket, checkpointDir)
  }

  /** Start the ingest stream: every micro-batch of `docs` (must carry
    * `idCol` and `textCol`) is near-dup-probed against the standing
    * index at `indexDir`, survivors land under `storeDir` and their
    * band keys append to the index.
    */
  def start(docs: DataFrame, indexDir: String, storeDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5, shingleWidth: Int = 3, k: Int = 12,
      bands: Int = 4, maxBucket: Int = LshGuard.DefaultMaxBucket,
      checkpointDir: Option[String] = None) = {
    val w = docs.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, indexDir, storeDir, idCol, textCol,
          threshold, shingleWidth, k, bands, maxBucket)
      }
    checkpointDir.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** The q188 registry dataflow: delta docs (doc_id % 10 = 0) staged
    * as 3 mtime-ordered parquet files (batch b = (doc_id div 10) % 3)
    * → file stream at one file per trigger → [[start]] against an
    * index of the standing corpus (doc_id % 10 ≠ 0) → every delta doc
    * with its landed bit. A fresh temp workspace per invocation keeps
    * the run idempotent under the harness's construct-twice policy.
    */
  def demoRun(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val base = java.nio.file.Files
      .createTempDirectory("graft_ndi").toString
    val (inDir, idxDir, storeDir) = (s"$base/in", s"$base/idx", s"$base/store")
    // the try opens IMMEDIATELY after the workspace is allocated: the
    // index build, the staging writes, and the deliberate
    // setLastModified sys.error below must all reach the finally, or
    // a failure in any of them leaks a corpus-sized workspace in /tmp
    try {
      // repartition before the CPU-heavy signature pass: the harness
      // table is one parquet file -> one input split, which would put
      // the whole shingle/md5 build on a single core (the
      // Tables.docsParallel rationale)
      writeIndex(
        docs.filter(col("doc_id") % 10 =!= 0)
          .repartition(spark.sparkContext.defaultParallelism)
          .withColumn("__t", TextFns.tokens(col("text"))),
        idxDir, tokensCol = "__t")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      val t0 = System.currentTimeMillis() - 600000L
      // ONE partitioned write stages all 3 batch files in a single pass
      // over the delta (r22, guide §6; formerly 3 filter + coalesce(1)
      // writes — 3 jobs, each re-scanning the delta). partitionBy
      // drops the synthetic __b from the data files, so each staged
      // file carries exactly the docs schema the stream reads; the
      // mtime pinning below is byte-for-byte the former logic.
      val stage = s"$base/stage"
      delta.withColumn("__b", expr("(doc_id div 10) % 3"))
        .coalesce(1).write.partitionBy("__b").parquet(stage)
      for (b <- 0 until 3) {
        // an EMPTY batch partition stages no directory at all — skip
        // it (an absent trigger dedups nothing, so later batches keep
        // the oracle's chained semantics under renumbering)
        Option(new java.io.File(s"$stage/__b=$b").listFiles())
          .getOrElse(Array.empty)
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .foreach { part =>
            val dst = java.nio.file.Paths.get(inDir, s"b$b.parquet")
            java.nio.file.Files.move(part.toPath, dst)
            // the file stream orders same-listing files by mtime — pin
            // it, and refuse to run with an unpinnable order (a silent
            // setLastModified failure could ingest batches out of the
            // oracle's order)
            if (!dst.toFile.setLastModified(t0 + b * 10000L))
              sys.error(s"setLastModified failed for $dst — batch order" +
                " cannot be pinned on this filesystem")
          }
      }
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir)
      // batch-sized joins/aggregations inside foreachBatch: a 32-wide
      // shuffle is per-task overhead, not parallelism, on a micro-batch
      // (the EventStream.StateParts policy — on a cluster this is the
      // same per-query shuffle.partitions knob sized to batch volume)
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        start(stream, idxDir, storeDir).awaitTermination()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      // if every delta doc was a near-dup, nothing landed and the
      // store directory never materialized — an empty landed frame is
      // the correct degenerate reading
      val landed =
        if (new java.io.File(storeDir).exists())
          spark.read.parquet(storeDir)
            .select(col("doc_id")).withColumn("__l", lit(1L))
        else delta.select(col("doc_id")).limit(0)
          .withColumn("__l", lit(1L))
      val result = delta.select("doc_id")
        .join(landed, Seq("doc_id"), "left")
        .select(col("doc_id").as("delta_doc"),
          coalesce(col("__l"), lit(0L)).as("landed"))
        .orderBy("delta_doc")
      // materialize before deleting the workspace: the result is
      // delta-sized (one row per delta doc — an output, not a corpus),
      // and a lazily-read frame would dangle on the removed store
      import spark.implicits._
      val rows = result.as[(Long, Long)].collect().toSeq
      rows.toDF("delta_doc", "landed")
    } finally
      // failure or success, the per-invocation workspace never outlives
      // the run — the leak this cleanup exists to prevent
      deleteRecursively(new java.io.File(base))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** One idempotent micro-batch: probe → drop dups → land → index.
    * Also the unit the spec drives directly (batch semantics are
    * testable without a stream).
    */
  def ingestBatch(batch: DataFrame, batchId: Long, indexDir: String,
      storeDir: String, idCol: String, textCol: String, threshold: Double,
      shingleWidth: Int, k: Int, bands: Int, maxBucket: Int): Unit = {
    val spark = batch.sparkSession
    // probe AND append both touch the key column — reject a
    // pre-migration (string-keyed) index before either runs
    requireKeySchema(spark, indexDir)
    // per-destination idempotence: store landing and index append are
    // two non-atomic writes, each guarded by its OWN batch_id
    // partition — a crash between them leaves one destination behind,
    // and the replay completes exactly the missing one (the
    // store-without-index window would otherwise permanently break
    // the index ⊇ landed-docs invariant). Both checks are O(1)
    // single-leaf probes — no per-trigger listing grows with stream
    // lifetime. The occupancy sidecar needs no per-batch write: it
    // covers only the bucketed BASE partition, and L0 runs are
    // occupancy-counted live by the probe.
    val (storeLive, storeHas, idxHas) =
      PhaseTimes.timed(storeDir, "idempotence_checks") {
        val live = CorpusIngest.batchLeafLive(spark, storeDir, batchId)
        (live,
          live || CorpusIngest.mergedBatchIds(spark, storeDir)
            .contains(batchId),
          CorpusIngest.batchLanded(spark, indexDir, batchId))
      }
    if (storeHas && idxHas) return
    // landed but no longer live: store compaction folded the batch
    // into the base. Compaction's contract (quiesced stream, no
    // incomplete batches) means the index append happened before the
    // fold — and the rows are no longer attributable to the batch, so
    // there is nothing a replay could safely complete
    if (storeHas && !storeLive) return
    // in-batch id collapse FIRST, and DETERMINISTIC (min md5 of the
    // row's JSON per id — not dropDuplicates, whose pick is
    // scan-order-dependent): probe, landing, and index all derive
    // from this one frame, so a duplicate id with differing text can
    // never index content a different copy landed — INCLUDING under
    // cache-recompute, where a lost executor re-derives the frame
    // between the store write and the index append and a
    // nondeterministic pick could silently index phantom content.
    // Persisted: both the signature pass and the freshNew anti-join
    // chain consume it — uncached, each consumer re-scanned the batch
    // source and re-paid the dedup shuffle (attributed at
    // ~0.5 s/trigger of the freshNew materialization in
    // NearDupIngestCostSpec)
    val pickOrder = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(md5(to_json(struct(batch.columns.map(col): _*))).asc)
    val deduped = batch
      .withColumn("__pick", row_number().over(pickOrder))
      .filter(col("__pick") === 1).drop("__pick")
      .persist()
    try {
      val toks = deduped.withColumn("__t", TextFns.tokens(col(textCol)))
      // persisted: consumed by the probe join and (for survivors) the
      // index append; batch-sized, released at the end of the batch
      val sigs = MinHashLsh.signaturesFromTokens(
        toks, idCol, "__t", shingleWidth, k).persist()
      try {
        if (storeLive) {
          // replay after a partial failure (store landed, index
          // append missing): the store's own batch partition is the
          // landed truth — derive the index completion from ITS id
          // column, not from a recomputed dedup chain. Explicit
          // one-column schema: an EMPTY landed batch's leaf holds a
          // _SUCCESS marker and possibly zero part files, which
          // schema inference would refuse (and the id column is all
          // the completion needs anyway).
          PhaseTimes.timed(storeDir, "index_append") {
            writeL0Run(sigs,
              spark.read.schema(org.apache.spark.sql.types.StructType(
                  Seq(batch.schema(idCol))))
                .parquet(s"$storeDir/batch_id=$batchId"),
              indexDir, batchId, idCol, k, bands)
          }
        } else {
          // the probe call's eager half: the key-collect job, which
          // doubles as the dedup window + signature materialization
          val dupIds = PhaseTimes.timed(storeDir, "band_probe_eager") {
            probeDupIds(sigs, batchId, indexDir, idCol,
              k, bands, threshold, maxBucket)
          }
          // cross-batch id dedup BEFORE the index append, so the index
          // holds exactly what lands: a re-delivered id is dropped by
          // the id anti-join and must not index its (possibly changed)
          // content. The anti-join's right side is the IdLedger slice
          // — live batch partitions' id columns (compaction-bounded)
          // plus the batch's touched buckets of the folded-id base —
          // per-trigger cost bounded by the batch footprint and the
          // compaction cadence, NOT the landed corpus (the round-15
          // full-store id scan is gone). Persisted: the store landing
          // and the index append both consume freshNew, and without
          // the cache the second write would re-execute the whole
          // probe join.
          val fresh = deduped.join(dupIds, Seq(idCol), "left_anti")
          // the ledger probe's eager half: batch-leaf listing, the
          // touched-bucket collect, and the pinned generation's leaf
          // enumeration
          val priorOpt = PhaseTimes.timed(storeDir, "ledger_probe_eager") {
            IdLedger.priorIds(deduped, idCol, storeDir,
              excludeBatch = batchId)
          }
          val freshNew =
            (priorOpt match {
              case Some(prior) =>
                fresh.join(prior, Seq(idCol), "left_anti")
              case None => fresh // fresh store: nothing prior
            }).persist()
          try {
            // landPrepared, not ingestBatch: freshNew is already
            // id-deduped in-batch and against the ledger — ingestBatch
            // would re-run both with a full-store scan. This action
            // executes the whole probe/anti-join dataflow.
            PhaseTimes.timed(storeDir, "store_landing") {
              CorpusIngest.landPrepared(freshNew, batchId, storeDir)
            }
            if (!idxHas)
              PhaseTimes.timed(storeDir, "index_append") {
                writeL0Run(sigs, freshNew.select(col(idCol)), indexDir,
                  batchId, idCol, k, bands)
              }
          } finally freshNew.unpersist(blocking = false)
        }
      } finally sigs.unpersist(blocking = false)
    } finally { deduped.unpersist(blocking = false); () }
  }

  /** Landed band keys append as one UNBUCKETED L0 run — a single
    * partition directory, no per-bucket file fan-out (see
    * [[UnbucketedRun]]), written DIRECTLY to its leaf path: a
    * root-level append would first resolve the existing relation,
    * i.e. list the whole index per trigger (the CorpusIngest
    * direct-leaf rationale). Overwrite, not ErrorIfExists: a crashed
    * append leaves the leaf dir behind without its `_SUCCESS` marker,
    * which reads as "not landed" — the replay must re-land into it.
    */
  private def writeL0Run(sigs: DataFrame, landedIds: DataFrame,
      indexDir: String, batchId: Long, idCol: String, k: Int,
      bands: Int): Unit = {
    val leaf = s"$indexDir/batch_id=$batchId/bkt=$UnbucketedRun"
    MinHashLsh.bandKeys(
        sigs.join(landedIds, Seq(idCol), "left_semi"), idCol, k, bands)
      .write.mode("overwrite").parquet(leaf)
    // marker self-heal for committers configured without _SUCCESS
    // (the CorpusIngest.landPrepared rationale)
    val spark = sigs.sparkSession
    val p = new org.apache.hadoop.fs.Path(leaf, "_SUCCESS")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) CorpusIngest.markCommitted(spark, leaf)
  }

  /** Most distinct (band, key) probe keys collected to the driver per
    * batch (~5 MB at the cap). A batch beyond it — tens of thousands
    * of documents in one trigger — keeps the key set distributed and
    * pays one extra aggregation job for its touched-bucket set.
    */
  val ProbeKeyCollectCap = 100000

  /** The pruned standing-index probe: batch ids whose best index match
    * reaches `threshold`. Cost is bounded by the BATCH's footprint
    * plus the compaction cadence, not the index: the touched-bucket
    * set (≤ the index's bucket count — bounded by construction, not
    * by batch size) prunes the BASE partition down to the touched
    * buckets' leaf dirs before any listing ([[readTouchedBuckets]]);
    * unbucketed L0 runs (bounded by how recently [[compactIndex]]
    * ran) are read in full. The scan is semi-joined to the batch's
    * keys — a broadcast of a driver-local relation in the common
    * small-batch case — and the resulting collision-bounded slice is
    * hot-capped by [[LshGuard.capBucketsSlice]]'s unconditional
    * window, so the whole probe is ONE lazy query: one eager
    * key-collect job (which doubles as the signature cache
    * materialization), no occupancy aggregation over the index, no
    * plan-shape collects.
    *
    * The batch's own partition (present only on replay after a
    * partial failure) is excluded so a batch's docs never self-match.
    */
  private[streaming] def probeDupIds(sigs: DataFrame, batchId: Long,
      indexDir: String, idCol: String, k: Int, bands: Int,
      threshold: Double, maxBucket: Int): DataFrame = {
    val spark = sigs.sparkSession
    val probe = MinHashLsh.bandKeys(sigs, idCol, k, bands)
    // bucket with the INDEX's recorded count: the leaf-path pruning
    // below is only correct against the layout the index was written
    // with
    val probeKeys = probe.select(col("band"), col("key")).distinct()
      .withColumn("bkt",
        bucketOf(col("key"), indexBucketCount(spark, indexDir)))
    val keyRows = probeKeys.limit(ProbeKeyCollectCap + 1).collect()
    def empty = sigs.select(col(idCol)).limit(0)
    if (keyRows.isEmpty) return empty // no signed docs in the batch
    // touched buckets (exact) + the semi-join's small side: from the
    // collected keys when they fit, else re-derived distributed
    // the broadcast hint belongs ONLY on the collected driver-local
    // branch — hinting the over-cap branch would make Spark collect
    // the deliberately-distributed key set to the driver anyway,
    // defeating the cap (bulk-backfill triggers would OOM the driver)
    val (touched, keySide) =
      if (keyRows.length <= ProbeKeyCollectCap)
        (keyRows.map(_.getInt(2)).distinct.toSeq,
          broadcast(spark.createDataFrame(
            java.util.Arrays.asList(keyRows: _*), probeKeys.schema)
            .select("band", "key")))
      else
        (probeKeys.select("bkt").distinct().collect()
          .map(_.getInt(0)).toSeq,
          probeKeys.select("band", "key"))
    val idxSrc = readTouchedBuckets(spark, indexDir,
      touched :+ UnbucketedRun, batchId)
    if (idxSrc.isEmpty) return empty // no standing rows in any bucket
    // one scan: only rows COLLIDING with the batch's keys survive the
    // semi-join, so everything downstream (the hot cap, the match
    // join) works a collision-bounded slice
    val collide = idxSrc.get
      .join(keySide, Seq("band", "key"), "left_semi")
    val index = LshGuard.capBucketsSlice(collide, idCol, maxBucket)
    val matches = (0 until k)
      .map(i => when(col(s"l.s$i") === col(s"r.s$i"), 1).otherwise(0))
      .reduce(_ + _)
    probe.as("l")
      .join(index.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .filter(round(matches / lit(k.toDouble), 4) >= threshold)
      .select(col(s"l.$idCol")).distinct()
  }

  /** Read ONLY the touched (batch, bucket) leaf directories of a
    * bucketed table, `excludeBatch`'s partitions skipped — metadata
    * pruning BEFORE any file listing. Partition-filter pruning alone
    * is not enough at scale: resolving `spark.read.parquet(dir)` lists
    * every leaf first (a distributed listing job once the path count
    * passes the parallel-discovery threshold — measured at ~1.4 s per
    * probe against a 512-bucket index), and only then does the filter
    * skip files. Enumerating the wanted leaves from the layout keeps
    * planning cost O(batches × touched buckets), independent of the
    * table's total bucket count — the role a catalog manifest plays
    * on a real deployment. `None` when no wanted leaf exists.
    */
  private[streaming] def readTouchedBuckets(spark: SparkSession, dir: String,
      touched: Seq[Int], excludeBatch: Long): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return None
    val want = touched.map(t => s"bkt=$t").toSet
    // generationally-folded base (Lsm.foldBatchesGen): resolve the
    // committed generation and prune its bucket leaves the same way;
    // the legacy in-table base partition — shadowed the moment a
    // generation commits, GC'd by the fold — is excluded from the
    // batch listing so a crash window between commit and GC can never
    // read the stale base alongside the new one
    val genBase = Lsm.committedGens(fs, dir).lastOption
      .map(g => Lsm.genPath(dir, g))
    val skipNames = Set(s"batch_id=$excludeBatch") ++
      (if (genBase.isDefined) Set(s"batch_id=${Lsm.BaseBatch}") else Set.empty)
    val paths = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("batch_id=") &&
        !skipNames.contains(s.getPath.getName))
      .flatMap(b => fs.listStatus(b.getPath).toSeq
        .filter(c => c.isDirectory && want.contains(c.getPath.getName))
        .map(_.getPath.toString))
    val genPaths = genBase.toSeq.flatMap(g => fs.listStatus(g).toSeq
      .filter(c => c.isDirectory && want.contains(c.getPath.getName))
      .map(_.getPath.toString))
    if (paths.isEmpty && genPaths.isEmpty) None
    else {
      // the path sets are already pruned and small — list them on the
      // driver instead of paying a distributed listing job
      val thresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
      val prev = spark.conf.get(thresholdKey)
      spark.conf.set(thresholdKey, "100000")
      try {
        val batchSide =
          if (paths.isEmpty) None
          else Some(spark.read.option("basePath", dir).parquet(paths: _*))
        val baseSide =
          if (genPaths.isEmpty) None
          else Some(spark.read.option("basePath", genBase.get.toString)
            .parquet(genPaths: _*)
            .withColumn("batch_id", lit(Lsm.BaseBatch)))
        (batchSide, baseSide) match {
          case (Some(b), Some(g)) => Some(b.unionByName(
            g.select(b.columns.map(col): _*)))
          case (b, g) => b.orElse(g)
        }
      } finally spark.conf.set(thresholdKey, prev)
    }
  }

  /** The whole standing index as one frame — live L0 batch partitions
    * ∪ the resolved base (generational or legacy), with `batch_id`
    * re-attached as `Lsm.BaseBatch` on generational base rows so the
    * schema matches the partition-discovered batches. Maintenance-
    * scale reader (recalibration, schema sniffs): a full-table scan by
    * design, never on the per-trigger path.
    */
  private[streaming] def indexFrame(spark: SparkSession,
      indexDir: String): DataFrame = {
    val fs = Lsm.fileSystem(spark, indexDir)
    val genBase = Lsm.committedGens(fs, indexDir).lastOption
      .map(g => Lsm.genPath(indexDir, g))
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val batchDirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      // the legacy base is shadowed once a generation exists (crash
      // window between gen commit and legacy GC) — never read both
      .filter(s => genBase.isEmpty ||
        s.getPath.getName != s"batch_id=${Lsm.BaseBatch}")
      .map(_.getPath.toString)
    val batches =
      if (batchDirs.isEmpty) None
      else Some(spark.read.option("basePath", indexDir)
        .parquet(batchDirs: _*))
    val base = genBase.map(g => spark.read
      .option("basePath", g.toString).parquet(g.toString)
      .withColumn("batch_id", lit(Lsm.BaseBatch)))
    (batches, base) match {
      case (Some(b), Some(g)) => b.unionByName(g.select(b.columns.map(col): _*))
      case (b, g) => b.orElse(g).getOrElse(
        sys.error(s"no index partitions under $indexDir"))
    }
  }

  /** Fold all but the newest `keepRecentBatches` L0 run partitions
    * into the bucketed base partition (their rows re-bucket from the
    * [[UnbucketedRun]] sentinel to real band-key buckets), rebuild
    * the occupancy sidecar from the new base, record the folded batch
    * ids so replayed batches stay no-ops, then bin-pack files with
    * [[graft.operators.Compact]]. Probe results are unchanged — only
    * the layout moves (and the probe's L0 full-scan share shrinks
    * back to zero). Maintenance operation: run with the stream
    * quiesced (same contract as any non-transactional table rewrite).
    *
    * Crash-safe and RE-ENTRANT: the fold dedups rows and the swap is
    * retire-then-rename, so every failure window either preserves the
    * old state or leaves rows duplicated between base and live L0
    * dirs — and the next compaction repairs both (a re-fold collapses
    * duplicates; an L0 dir whose id is already in the merged-ids
    * sidecar is an orphan from a crash after the fold and is dropped
    * without re-folding). No window loses rows.
    */
  def compactIndex(spark: SparkSession, indexDir: String,
      keepRecentBatches: Int = 8,
      targetBytes: Long = 128L * 1024 * 1024)
      : Seq[graft.operators.Compact.LeafStats] = {
    require(keepRecentBatches >= 0, "keepRecentBatches must be >= 0")
    requireKeySchema(spark, indexDir)
    val fs = Lsm.fileSystem(spark, indexDir)
    val merged0 = CorpusIngest.mergedBatchIds(spark, indexDir)
    val listedAll = CorpusIngest.listedBatchIds(spark, indexDir) -
      InitialIndexBatch
    // orphans: a prior compaction folded these rows into the base and
    // recorded their ids, then crashed before dropping the partitions
    (listedAll intersect merged0).foreach(b =>
      Lsm.delete(fs, new org.apache.hadoop.fs.Path(indexDir, s"batch_id=$b")))
    val toMerge = (listedAll -- merged0).toSeq.sorted
      .dropRight(keepRecentBatches)
    if (toMerge.nonEmpty) {
      val buckets = indexBucketCount(spark, indexDir)
      // dropDuplicates makes the fold idempotent: if a crash left L0
      // rows already present in the base (or a replayed batch
      // re-appended one), the re-fold collapses them instead of
      // doubling (index rows are exact per (id, band) by construction,
      // so full-row dedup can only remove crash artifacts). The
      // repartition clusters by bucket so each bucket dir gets
      // one-task file counts, not tasks × buckets slivers.
      // generational fold (Lsm.foldBatchesGen): the new base commits
      // by marker, never by rename — a concurrent reader resolves a
      // complete generation at every instant, even on stores whose
      // rename is a non-atomic copy. The bkt column is DROPPED before
      // the dedup so a crash-window twin (an L0 row at the sentinel
      // bucket vs its folded copy at the real bucket) collapses to one
      // row, then recomputed for the new layout.
      Lsm.foldBatchesGen(spark, indexDir, toMerge,
        _.drop("bkt").dropDuplicates()
          .withColumn("bkt", bucketOf(col("key"), buckets))
          .repartition(col("bkt")),
        Seq("bkt"))
      // sidecar rebuild from the folded base: base partials must now
      // cover the rows that were L0 (and so live-counted) before
      rebuildOccupancy(spark, indexDir)
      // record the merged ids BEFORE dropping the L0 partitions: a
      // crash in the reverse order's window (L0 gone, ids unrecorded)
      // would let checkpoint replays of those batches re-append
      // duplicate L0 runs. This ordering's crash window instead leaves
      // listed∩merged orphans, which the cleanup preamble above drops
      // without re-folding (their rows are already in the base).
      CorpusIngest.recordMergedBatchIds(spark, indexDir, toMerge.toSet)
      Lsm.dropBatches(spark, indexDir, toMerge)
    }
    graft.operators.Compact.compact(spark, indexDir, targetBytes)
  }

  /** Recompute the occupancy sidecar from the index's base partition
    * (the only partition it covers — L0 runs are counted live by
    * consumers). Written to a sibling then swapped, so a reader never
    * sees a half-written table.
    */
  private def rebuildOccupancy(spark: SparkSession, indexDir: String): Unit = {
    val fs = Lsm.fileSystem(spark, indexDir)
    val tmp = new org.apache.hadoop.fs.Path(occDir(indexDir) + ".rebuild-tmp")
    Lsm.delete(fs, tmp)
    val base = Lsm.resolveBase(fs, indexDir).getOrElse(
      sys.error(s"no base partition under $indexDir to rebuild from"))
    spark.read.option("basePath", base.toString)
      .parquet(base.toString)
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(tmp.toString)
    // retire-then-rename (not delete-then-rename): a crash between the
    // renames leaves the fresh sidecar intact at the tmp path and the
    // old one at the retired path — recoverable, and the sidecar is
    // always re-derivable from the base anyway
    val live = new org.apache.hadoop.fs.Path(occDir(indexDir))
    val retired = new org.apache.hadoop.fs.Path(occDir(indexDir) + ".retired")
    Lsm.delete(fs, retired)
    if (fs.exists(live))
      Lsm.renameStrict(fs, live, retired, "occupancy retire")
    Lsm.renameStrict(fs, tmp, live,
      s"previous sidecar at $retired")
    Lsm.delete(fs, retired)
  }

  /** Documents currently indexed: the occupancy sidecar's Σ n covers
    * the base partition (one row per doc per band); L0 runs — absent
    * from the sidecar by design — are counted from their own (small,
    * compaction-bounded) partitions.
    */
  def indexedDocCount(spark: SparkSession, indexDir: String,
      bands: Int): Long = {
    val base = spark.read.parquet(occDir(indexDir))
      .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val l0Dirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("batch_id=") &&
        s.getPath.getName != s"batch_id=$InitialIndexBatch")
      .map(_.getPath.toString)
    val l0 =
      if (l0Dirs.isEmpty) 0L
      else spark.read.option("basePath", indexDir).parquet(l0Dirs: _*).count()
    (base + l0) / bands
  }

  /** Recalibration drift policy for a CALIBRATED index: when the
    * standing corpus has grown past `growthFactor` × the calibration
    * baseline (`nDocs` in the [[ConfigFile]]), re-run the band-count
    * sweep over the index's OWN signatures (band-0 rows carry the
    * full signature — no corpus re-read, no re-shingling):
    *
    *  - selection unchanged AND the bucket layout still fits
    *    (`bucketCountFor(nNow)` within the recorded bucket count) →
    *    the baseline resets to the current count (so the sweep
    *    re-arms at the next decade) and nothing rewrites. Returns
    *    `None`.
    *  - selection changed, OR growth outran the bucket layout (a
    *    stable selection still needs RE-BUCKETING, or per-touched-
    *    bucket probe cost grows linearly with the corpus — the
    *    sublinear-probe contract) → the index is REBUILT at the new
    *    geometry and bucket count (written to a sibling, then
    *    swapped — batch lineage collapses into the base partition,
    *    with every folded batch id recorded in the merged-ids sidecar
    *    so checkpoint replays of old batches stay no-ops; run only
    *    with the stream quiesced). Returns `Some(newBands)`.
    *
    * Below the growth threshold this is two metadata reads and one
    * sidecar aggregation — cheap enough for a metered per-N-batches
    * trigger.
    */
  def maybeRecalibrate(spark: SparkSession, indexDir: String,
      growthFactor: Double = 2.0, bandGrid: Seq[Int] = Seq(2, 3, 4, 6),
      pairsPerDocBudget: Long = 20L): Option[Int] = {
    require(growthFactor > 1.0, "growthFactor must exceed 1")
    requireKeySchema(spark, indexDir)
    val (k, bands, shingleWidth) = indexConfig(spark, indexDir).getOrElse(
      sys.error(s"no $ConfigFile under $indexDir — the drift policy" +
        " needs a calibrated index (writeIndexCalibrated)"))
    val n0 = calibrationDocCount(spark, indexDir).getOrElse(
      sys.error(s"$ConfigFile has no nDocs baseline — rebuild with" +
        " writeIndexCalibrated"))
    val nNow = indexedDocCount(spark, indexDir, bands)
    if (n0 > 0 && nNow.toDouble / n0 < growthFactor) return None
    val idCol = indexIdCol(spark, indexDir, k)
    val sigs = indexFrame(spark, indexDir)
      .filter(col("band") === 0)
      .select(col(idCol) +: (0 until k).map(i => col(s"s$i")): _*)
      .persist()
    try {
      val newBands = MinHashLsh.calibrateBands(
        sigs, idCol, k, bandGrid, pairsPerDocBudget)
      val curBuckets = indexBucketCount(spark, indexDir)
      val newBuckets = bucketCountFor(nNow)
      if (newBands == bands && newBuckets <= curBuckets) {
        writeConfig(spark, indexDir, k, bands, shingleWidth,
          curBuckets, Some(nNow))
        None
      } else {
        val fs = Lsm.fileSystem(spark, indexDir)
        val tmp = indexDir + ".recal-tmp"
        Lsm.delete(fs, new org.apache.hadoop.fs.Path(tmp))
        // batch lineage collapses into the rebuilt base — record every
        // folded batch id BEFORE the swap so a checkpoint replay of a
        // previously-processed batch still reads as already-indexed
        // (the compactIndex sidecar rationale; without it a replayed
        // batch would re-append its band keys as a duplicate L0 run)
        val foldedIds =
          CorpusIngest.existingBatchIds(spark, indexDir) - InitialIndexBatch
        // the rebuild also RE-BUCKETS for the grown corpus — this is
        // what keeps per-bucket size (and so per-touched-bucket probe
        // cost) bounded across decades of growth, and why a stable
        // selection can still force a rebuild
        // the tmp build scans the OLD index (sigs reads it lazily);
        // only after it fully materializes does the swap retire it
        writeIndexFrom(sigs, tmp, idCol, k, newBands, newBuckets)
        writeConfig(spark, tmp, k, newBands, shingleWidth, newBuckets,
          Some(nNow))
        if (foldedIds.nonEmpty)
          CorpusIngest.recordMergedBatchIds(spark, tmp, foldedIds)
        // retire-then-rename, never delete-then-rename: a crash in the
        // old ordering's window (live index deleted, rebuilt one not
        // yet renamed in) lost the stream's only state. Here every
        // instant has both complete indexes on disk; a crash between
        // the renames leaves the live path absent but the data intact
        // at the named siblings (the rename context spells out
        // recovery).
        val retired = indexDir + ".recal-retired"
        Lsm.delete(fs, new org.apache.hadoop.fs.Path(retired))
        Lsm.renameStrict(fs, new org.apache.hadoop.fs.Path(indexDir),
          new org.apache.hadoop.fs.Path(retired),
          s"rebuilt index intact at $tmp")
        Lsm.renameStrict(fs, new org.apache.hadoop.fs.Path(tmp),
          new org.apache.hadoop.fs.Path(indexDir),
          s"the rebuilt index is complete at $tmp and the previous" +
            s" index at $retired; rename one of them to the live path" +
            " to recover")
        Lsm.delete(fs, new org.apache.hadoop.fs.Path(retired))
        Some(newBands)
      }
    } finally sigs.unpersist(blocking = false)
  }

  /** The index's id column: the one field that is not a band key,
    * signature component, or partition column.
    */
  private def indexIdCol(spark: SparkSession, indexDir: String,
      k: Int): String = {
    val reserved = Set("band", "key", "bkt", "batch_id") ++
      (0 until k).map(i => s"s$i")
    val rest = indexFrame(spark, indexDir).schema.fieldNames
      .filterNot(reserved)
    require(rest.length == 1,
      s"cannot identify the index id column among ${rest.mkString(",")}")
    rest.head
  }
}
