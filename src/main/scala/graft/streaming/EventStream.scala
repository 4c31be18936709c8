package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming over the `events` table (SURVEY.md §2.10
  * streaming row). Batch parquet drives a real `readStream` →
  * aggregate → memory-sink query via `Trigger.AvailableNow`, so the
  * streaming operator graph (stateful tumbling-window aggregation) is
  * exercised end-to-end and must produce byte-identical results to the
  * batch oracle.
  *
  * Event time is epoch-micros longs throughout (see `graft.Tables`);
  * window assignment is integer arithmetic, so streaming vs batch vs
  * DuckDB all agree exactly.
  */
object EventStream {

  /** Width of the stateful shuffle every streaming query here runs
    * with. Results are partition-count independent; only the
    * state-store instance overhead changes. Measured over the 10-query
    * streaming set at sf0.1: 8 → 16.0 s, 4 → 14.3 s, 2 → 19.0 s
    * (StreamFixedCostSpec is the per-phase decomposition referee) —
    * below 4 the per-partition dataflow starts to dominate, above it
    * the per-store per-batch commit overhead does.
    */
  private val StateParts = 4

  /** Footer-read schema per events file, cached: every stream
    * construction needs the batch schema (FileStreamSource takes it
    * verbatim), and the file is immutable between modifications — the
    * stream-stream joins build two streams per query and Bench
    * constructs each query twice, so the same footer would otherwise
    * be re-read up to four times per timed query. Keyed by the
    * per-part-file content fingerprint ([[graft.Tables.pathFingerprint]])
    * so a test/generator regenerating the table with a different
    * schema in the same JVM never sees a stale entry.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Long), org.apache.spark.sql.types.StructType]()

  private[streaming] def eventsSchema(spark: SparkSession, dir: String) = {
    val p = s"$dir/events.parquet"
    // per-part-file fingerprint (Tables.pathFingerprint): the
    // top-level status of a directory-backed table has length 0 and
    // coarse mtime, which could serve a stale schema for a quickly
    // regenerated table
    schemaCache.computeIfAbsent(graft.Tables.pathFingerprint(spark, p),
      _ => spark.read.parquet(p).schema)
  }

  /** Run `stream` to completion into a fresh memory-sink table
    * (`Trigger.AvailableNow`, output mode `mode`) and return the table.
    * The stateful shuffle is sized to the state, not the core count
    * (`StateParts`): every stateful partition carries state-store
    * setup/commit cost per micro-batch, which dominates these
    * bounded-input queries. On a real cluster this is the same
    * per-query `shuffle.partitions` knob, sized to state volume.
    */
  private def drain(spark: SparkSession, stream: DataFrame, prefix: String,
      mode: String): DataFrame = {
    val name = s"graft_${prefix}_${System.nanoTime()}"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val q = try {
      spark.conf.set("spark.sql.shuffle.partitions", StateParts.toString)
      stream.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    spark.table(name)
  }

  /** Tumbling count/sum per (window, event_type), via streaming. */
  def tumblingCounts(spark: SparkSession, dir: String, windowUs: Long): DataFrame = {
    graft.Tables.eventsReadConf(spark)
    val schema = eventsSchema(spark, dir)
    // FileStreamSource needs a glob (a bare file path trips its
    // basePath directory check), so match the single file by pattern.
    val stream = spark.readStream.schema(schema)
      .option("basePath", dir).parquet(s"$dir/events.parque*")
      .withColumn("us", graft.Tables.usFromTs(schema("ts").dataType))
      .withColumn("w_start_us", expr(s"(us div $windowUs) * $windowUs"))
      .groupBy("w_start_us", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("v"))
    drain(spark, stream, "tumbling", "complete").orderBy("w_start_us", "event_type")
  }

  /** Per-user event for the stateful sessionizer. */
  final case class UserEvent(user_id: Long, event_id: Long, us: Long)
  /** Session state carried across micro-batches. */
  final case class SessionState(lastUs: Long, nSessions: Long)

  /** Gap-based sessionization via `flatMapGroupsWithState` — the
    * custom-state streaming operator (SURVEY.md §2.10 streaming row).
    * State per user = (last event time, session count); each batch's
    * events are processed in time order against the carried state and
    * the updated cumulative count is emitted. Driven with
    * `Trigger.AvailableNow` the final emission equals the batch
    * window-lag formulation (`sessionCountsBatch`) exactly.
    */
  def sessionCountsStateful(spark: SparkSession, dir: String,
      gapUs: Long = 1800000000L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    graft.Tables.eventsReadConf(spark)
    val schema = eventsSchema(spark, dir)
    val stream = spark.readStream.schema(schema)
      .option("basePath", dir).parquet(s"$dir/events.parque*")
      .select(col("user_id"), col("event_id"),
        graft.Tables.usFromTs(schema("ts").dataType).as("us"))
      .as[UserEvent]

    def update(userId: Long, events: Iterator[UserEvent],
        state: GroupState[SessionState]): Iterator[(Long, Long)] = {
      val sorted = events.toSeq.sortBy(e => (e.us, e.event_id))
      var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
      for (e <- sorted) {
        if (st.lastUs == Long.MinValue || e.us - st.lastUs > gapUs)
          st = SessionState(e.us, st.nSessions + 1)
        else st = SessionState(e.us, st.nSessions)
      }
      state.update(st)
      Iterator.single((userId, st.nSessions))
    }

    val counted = stream.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
      .toDF("user_id", "n_sessions")
    drain(spark, counted, "sessions", "append").orderBy("user_id")
  }

  /** Streamed `events` source with epoch-micros + event-time columns. */
  private def eventStream(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.eventsReadConf(spark)
    val schema = eventsSchema(spark, dir)
    spark.readStream.schema(schema)
      .option("basePath", dir).parquet(s"$dir/events.parque*")
      .withColumn("us", graft.Tables.usFromTs(schema("ts").dataType))
      .withColumn("ets", timestamp_micros(col("us")))
  }

  /** Stream-static enrichment join: the event stream joined to a
    * static dimension (customer → nation), then a stateful aggregate
    * per (nation, event_type). The static side is broadcast — each
    * micro-batch probes the dim in-memory, no stream-side shuffle
    * before the aggregation, and (unlike stream-stream joins) no join
    * state store at all: Spark re-plans the static side per batch.
    * The canonical "attach dimension attributes on ingest" shape.
    */
  def staticEnrichedCounts(spark: SparkSession, dir: String): DataFrame = {
    val dim = broadcast(spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey")))
    val stream = eventStream(spark, dir)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("v"))
    drain(spark, stream, "enrich", "complete").orderBy("c_nationkey", "event_type")
  }

  /** Sliding-window count/sum per (window, event_type) via streaming —
    * each event lands in width/slide overlapping windows; Spark's
    * `window()` does the fan-out inside the stateful aggregation.
    * Equals the batch `window()` formulation (q55) exactly.
    */
  def slidingCounts(spark: SparkSession, dir: String,
      widthUs: Long, slideUs: Long): DataFrame = {
    val stream = eventStream(spark, dir)
      .groupBy(window(col("ets"), s"${widthUs / 1000000} seconds",
        s"${slideUs / 1000000} seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("v"))
    drain(spark, stream, "sliding", "complete")
      .select(unix_micros(col("window.start")).as("w_start_us"),
        col("event_type"), col("n"), col("v"))
      .orderBy("w_start_us", "event_type")
  }

  /** Append-mode tumbling aggregation with a watermark: only windows
    * whose end falls at or below the final watermark (max event time −
    * delay) are emitted — the cross-engine-checkable core of late-data
    * semantics. Deterministic under `AvailableNow`: the final
    * watermark is a pure function of the data.
    */
  def tumblingAppendWatermarked(spark: SparkSession, dir: String,
      windowUs: Long, delayUs: Long): DataFrame = {
    val stream = eventStream(spark, dir)
      .withWatermark("ets", s"${delayUs / 1000000} seconds")
      .groupBy(window(col("ets"), s"${windowUs / 1000000} seconds"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    drain(spark, stream, "wm", "append")
      .select(unix_micros(col("window.start")).as("w_start_us"),
        col("event_type"), col("n"))
      .orderBy("w_start_us", "event_type")
  }

  /** The (pid, cid) rows of a stream-stream interval join of each
    * purchase with the same-user clicks in the 30 minutes up to it.
    * Both sides are watermarked 1 hour behind their event time and
    * the join condition carries event-time bounds, so the state store
    * evicts rows as the watermark advances — the unbounded-state
    * hazard of stream-stream joins is handled, not ignored.
    */
  private def purchaseClickPairs(spark: SparkSession, dir: String,
      joinType: String): DataFrame = {
    val purchases = eventStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        col("us").as("pus"), col("ets").as("pts"))
      .withWatermark("pts", "1 hour")
    val clicks = eventStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("event_id").as("cid"),
        col("us").as("cus"), col("ets").as("cts"))
      .withWatermark("cts", "1 hour")
    purchases.join(clicks,
        col("user_id") === col("c_uid") &&
          col("cts") >= col("pts") - expr("INTERVAL 30 MINUTES") &&
          col("cts") <= col("pts"),
        joinType)
      .select("pid", "cid")
  }

  /** Stream-stream interval join: per purchase, the number of
    * same-user clicks in the 30 minutes up to it (a fixed lookback;
    * see [[purchaseClickPairs]]). Driven with `Trigger.AvailableNow`
    * the result equals the batch interval join exactly; the
    * per-purchase counts are aggregated from the sink table (batch),
    * keeping the streaming query single-stateful-op.
    */
  def purchaseClickJoin(spark: SparkSession, dir: String): DataFrame =
    // Stream-stream join state cost is 4 stores per partition
    // (left/right × keyToNumValues/keyWithIndexToValue) — the
    // heaviest beneficiary of the sized stateful shuffle.
    drain(spark, purchaseClickPairs(spark, dir, "inner"), "ssjoin", "append")
      .groupBy("pid").agg(count(lit(1)).as("n_clicks_30m"))
      .orderBy("pid")

  /** Stream-stream LEFT OUTER interval join — the outer member of the
    * streaming join family, over the same fixed 30-minute lookback
    * ([[purchaseClickPairs]]). Matched pairs emit as they join; a
    * purchase with NO same-user click in its lookback emits
    * null-padded only once the global watermark (min of the two
    * sides' per-source watermarks, ms granularity) passes its event
    * time and the state store evicts it. Purchases newer than the
    * final watermark are therefore *withheld* at stream end — that is
    * the contract of watermarked outer joins, and the oracle
    * reproduces it exactly: unmatched purchases appear only when
    * `pts_ms < min(max_purchase_ms, max_click_ms) - 1h`.
    */
  def purchaseClickLeftOuter(spark: SparkSession, dir: String): DataFrame =
    drain(spark, purchaseClickPairs(spark, dir, "left_outer"), "ssouter", "append")
      .groupBy("pid").agg(count(col("cid")).as("n_clicks_30m"))
      .orderBy("pid")

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    * holds a key only until the watermark passes its event time, so
    * state is O(keys per watermark window) instead of O(all keys ever)
    * — the form that survives an unbounded id space (q71's plain
    * `dropDuplicates` keeps every id forever, correct but
    * state-unbounded; this is its 100 TB replacement when duplicate
    * deliveries are time-local, the usual at-least-once case).
    * Driven with `Trigger.AvailableNow` over a doubled source the
    * result equals batch distinct exactly (all duplicates arrive
    * within one watermark window).
    */
  def streamDedupWatermarked(spark: SparkSession, dir: String): DataFrame = {
    val doubled = eventStream(spark, dir).unionByName(eventStream(spark, dir))
    val deduped = doubled
      .select(col("event_id"), col("event_type"), col("ets"))
      .withWatermark("ets", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    drain(spark, deduped, "wdedup", "append")
      .groupBy("event_type").agg(count(lit(1)).as("n_unique"))
      .orderBy("event_type")
  }

  /** Streaming exact deduplication: the source unioned with itself
    * (every event twice) → `dropDuplicates` on the event id → counts
    * per type from the sink. The state store holds one entry per seen
    * key — the streaming half of the exact-dedup operator family.
    */
  def streamDedupCounts(spark: SparkSession, dir: String): DataFrame = {
    val doubled = eventStream(spark, dir).unionByName(eventStream(spark, dir))
    val deduped = doubled
      .select("event_id", "event_type")
      .dropDuplicates("event_id")
    drain(spark, deduped, "sdedup", "append")
      .groupBy("event_type").agg(count(lit(1)).as("n_unique"))
      .orderBy("event_type")
  }

  /** Sessionization via Spark's native `session_window` (batch mode):
    * one session row per (user, gap-merged window). Returns per-user
    * session counts — must equal `sessionCountsBatch`.
    */
  def sessionCountsViaSessionWindow(events: DataFrame,
      gapUs: Long = 1800000000L): DataFrame = {
    events
      .withColumn("__ts", timestamp_micros(col("us")))
      .groupBy(col("user_id"),
        session_window(col("__ts"), s"${gapUs / 1000000} seconds"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("user_id")
  }

  /** Gap-based sessionization (30-min inactivity gap) as a batch
    * window computation: a session starts where the lag gap exceeds
    * the threshold. One shuffle on user_id; in-partition sort.
    */
  def sessionCountsBatch(events: DataFrame, gapUs: Long = 1800000000L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    events
      .select("user_id", "event_id", "us")
      .withColumn("prev_us", lag("us", 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1)
          .otherwise(0))
      .groupBy("user_id")
      .agg(sum("new_s").cast("long").as("n_sessions"))
      .orderBy("user_id")
  }
}
