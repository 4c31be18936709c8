package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Access to the harness parquet tables (TESTDATA.md) plus session knobs
  * shared by every entry point.
  *
  * Scale note: all reads go through `spark.read.parquet` so Catalyst gets
  * predicate pushdown / column pruning on the scan; callers must never
  * collect a table to the driver.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // `events` has shipped as TIMESTAMP(NANOS) (which Spark 4 rejects
    // unless nanos are read as raw longs) and as TIMESTAMP(MICROS) NTZ
    // depending on harness version — set the read conf on every events
    // read so a query is self-contained (not dependent on an earlier
    // query in the session having set it). See `usFromTs` below.
    if (name == "events") eventsReadConf(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** `documents` ships as one small parquet file → one input
    * partition, which would serialize the CPU-heavy fan-out work
    * (shingle explode × k md5 aggregations) onto a single core. A
    * round-robin repartition to the core count before the fan-out
    * distributes it; the shuffled payload (the raw docs) is tiny
    * relative to the exploded intermediate. The repartition is
    * CONDITIONAL on the scan actually being under-split: on a real
    * multi-file 100 TB layout the scan's own splits provide the
    * parallelism and an unconditional repartition would be a
    * corpus-sized shuffle for nothing. The probe reads the planned
    * split count (file listing, no job).
    */
  def docsParallel(spark: SparkSession, dir: String): DataFrame =
    parallelizedLike(spark, dir, "documents")(load(spark, dir, "documents"))

  /** Same single-file→single-partition hazard for `embeddings`: the
    * brute-force / bucketed similarity joins stream this side through
    * a broadcast join, so its partition count IS the join's
    * parallelism — one input file would put the whole O(N·dim)
    * scoring loop on one core.
    */
  def embeddingsParallel(spark: SparkSession, dir: String): DataFrame =
    parallelizedLike(spark, dir, "embeddings")(load(spark, dir, "embeddings"))

  /** The under-split probe's scan partition count, memoized per
    * (table content fingerprint, defaultParallelism): the former
    * per-call `df.rdd.getNumPartitions` ran full physical planning +
    * RDD construction for a throwaway plan — measured 77–105 ms per
    * call (OPTIMIZATION_r21.md §6b) against 0.15 ms for the fingerprint
    * lookup, and docsParallel alone runs in ~50 query impls × 2 bench
    * executions each. The fingerprint key (per-part-file sizes +
    * mtimes) invalidates on any table rewrite, so generators and
    * tests never see a stale count; the count depends otherwise only
    * on the file layout and the session's split conf, which the
    * harness holds constant per JVM.
    */
  private val scanPartsCache = new java.util.concurrent.ConcurrentHashMap[
    ((String, Long, Long, Long), Int, Long, Long), Integer]()

  private def scanPartitions(spark: SparkSession, dir: String,
      name: String): Int =
    // Key includes the split-affecting session confs (ADVICE r21): a
    // mid-JVM change to maxPartitionBytes/openCostInBytes would
    // otherwise serve a partition count planned under the old split.
    scanPartsCache.computeIfAbsent(
      (pathFingerprint(spark, s"$dir/$name.parquet"),
        spark.sparkContext.defaultParallelism,
        spark.sessionState.conf.filesMaxPartitionBytes,
        spark.sessionState.conf.filesOpenCostInBytes),
      _ => Integer.valueOf(
        load(spark, dir, name).rdd.getNumPartitions)).intValue

  /** Conditionally round-robin `df` (a narrow derivation — filter/
    * project — of the named table's scan, so its partition count IS
    * the scan's) to the core count when the scan is under-split; the
    * docsParallel policy with the probe read from [[scanPartitions]]'s
    * memo instead of a fresh plan→RDD conversion per call.
    */
  private[graft] def parallelizedLike(spark: SparkSession, dir: String,
      name: String)(df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (scanPartitions(spark, dir, name) >= math.max(2, target / 2)) df
    else df.repartition(target)
  }

  /** Epoch-micros expression for an events `ts` column, adaptive to
    * the parquet flavor the harness generated:
    *
    *  - TIMESTAMP(NANOS): Spark 4 rejects it unless read as raw longs
    *    (`spark.sql.legacy.parquet.nanosAsLong`, set by [[load]]) —
    *    floor-divide to micros, exactly DuckDB's ns→us truncation;
    *  - TIMESTAMP(MICROS) NTZ (current harness output): cast the
    *    wall-clock value to an instant under the UTC session zone
    *    [[events]] pins, then `unix_micros` — the same integer DuckDB's
    *    `epoch_us(ts)` yields on the naive timestamp.
    *
    * Either way `us` is an exact BIGINT and the oracle comparison is
    * timezone-free.
    *
    * Post-1970 assumption (NANOS flavor): Spark `div` truncates toward
    * zero while a floor division truncates toward −∞ — the two differ
    * by 1 µs only for negative (pre-epoch) nanosecond timestamps,
    * which the events table never contains (synthetic 2024+ data).
    */
  def usFromTs(tsType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    tsType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => unix_micros(col("ts"))
    }

  /** Session knobs every events read needs: the nanos-as-long escape
    * hatch for TIMESTAMP(NANOS) files, and a UTC session zone so the
    * NTZ→instant cast in [[usFromTs]] is deterministic on any machine.
    *
    * The zone is asserted, not overwritten: silently mutating the
    * session zone as a side effect of a table load would clobber a
    * caller's setting for every query run afterwards. All graft entry
    * points (Bench, Verify, the test harness, build.sbt's forked JVM)
    * pin UTC at session construction; a caller that deliberately runs
    * another zone gets a loud failure here instead of wrong-by-an-
    * offset event timestamps.
    */
  def eventsReadConf(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tz = spark.conf.get("spark.sql.session.timeZone")
    if (tz != "UTC")
      throw new IllegalStateException(
        s"events require spark.sql.session.timeZone=UTC (found '$tz'): " +
          "set it on the SparkSession builder before loading events")
  }

  /** The `events` table with a derived epoch-micros `us` column (see
    * [[usFromTs]] for the schema-adaptive derivation).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    eventsReadConf(spark)
    val df = load(spark, dir, "events")
    df.withColumn("us", usFromTs(df.schema("ts").dataType))
  }

  /** Content-identity fingerprint of a parquet path for JVM-local
    * cache keys: (path, Σ data-file lengths, file count, max
    * data-file mtime) — bytes and file count as SEPARATE components
    * (ADVICE r21: the former `bytes + files` single Long could alias a
    * rewrite that traded a byte for a file). A DIRECTORY-backed table
    * (Spark-written `documents.parquet/`) reports length 0 and a
    * coarse, listing-insensitive mtime on its own status, so a
    * (path, mtime, length) key could serve a stale cache entry for a
    * quickly regenerated same-size table — folding the per-part
    * statuses catches any part-file change. Hidden entries
    * (`_SUCCESS`, `.crc`) are skipped: rewriting only them never
    * changes table content.
    */
  def pathFingerprint(spark: SparkSession, path: String): (String, Long, Long, Long) = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    var bytes = 0L
    var files = 0L
    var maxM = 0L
    def walk(st: org.apache.hadoop.fs.FileStatus): Unit = {
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        if (st.isDirectory) fs.listStatus(st.getPath).foreach(walk)
        else {
          bytes += st.getLen
          files += 1
          if (st.getModificationTime > maxM) maxM = st.getModificationTime
        }
      }
    }
    walk(fs.getFileStatus(hp))
    (path, bytes, files, maxM)
  }
}
