package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AsOfJoin, IntervalJoin, Salted, TopK}
import graft.streaming.EventStream

/** Event-time queries over the `events` table (SURVEY.md §2.11 items
  * 5 and 15): range and interval joins, tumbling, sliding, session and
  * range-frame windows, as-of joins, funnels and retention, pivots,
  * sketches and quantiles, SCD-2 history and attribution. The
  * streaming twins of the windowed queries are in `StreamingQueries`.
  *
  * All event time is epoch-micros longs (`Tables.events`), which makes
  * every window boundary integer-exact and identical to DuckDB's
  * `epoch_us` — no timestamp/timezone semantics in the comparison at
  * all.
  */
object EventQueries {

  private val FiveMinUs = 300000000L // 5 min in micros
  /** 15 min tumbling window (q19, and q20/q82 in `StreamingQueries`). */
  private[queries] val WindowUs = 900000000L
  private val DayUs = 86400000000L

  /** Typed row for the q86 cogroup. */
  final case class Ev(user_id: Long, us: Long)

  // q98/q99: the explicit pivot domain. Passing the value list is the
  // 100 TB form — without it Spark runs an extra distinct-values job
  // over the full input before it can even plan the aggregation.
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** q112: resample grid step (6 hours in epoch-micros). */
  private val ResampleStepUs = 21600000000L

  /** q120 cap: max events kept per (user, day). */
  private val RateCapK = 3

  /** q129: events more than 30 minutes apart start a new session. */
  private val SessionGapUs = 1800000000L

  /** DuckDB per-user session counts at a 30-minute inactivity gap:
    * the oracle of q33 and of its streaming twin q39.
    */
  private[queries] val SessionCountsSql = """
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        m AS (
          SELECT user_id,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
        FROM m GROUP BY user_id ORDER BY user_id"""

  /** DuckDB counts and value sums per (30-minute window sliding by
    * 15 minutes, event_type): the oracle of q55 and of its streaming
    * twin q74.
    */
  private[queries] val SlidingCountsSql = {
    val S = 900000000L
    s"""
        WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
        w2 AS (
          SELECT (us // $S) * $S AS w_start_us, event_type, value FROM e
          UNION ALL
          SELECT ((us // $S) - 1) * $S AS w_start_us, event_type, value FROM e)
        SELECT w_start_us, event_type, CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 3) AS v
        FROM w2 GROUP BY 1, 2 ORDER BY w_start_us, event_type"""
  }

  /** The purchases (user_id, pid, us) and the clicks (user_id, cid,
    * cus) among the events: the two sides of the q34 and q65 as-of
    * joins.
    */
  private def purchasesAndClicks(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
    (ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"), col("us")),
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("cid"), col("us").as("cus")))
  }

  /** DuckDB CTEs of the purchases `p(pid, user_id, pus)` and the
    * clicks `c(cid, cu, cus)` among the events: the two sides of q34,
    * q65 and the streaming joins q63 and q108.
    */
  private[queries] val PurchaseClickCtes = """p AS (SELECT event_id AS pid, user_id, epoch_us(ts) AS pus
                   FROM events WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS cid, user_id AS cu, epoch_us(ts) AS cus
                   FROM events WHERE event_type = 'click')"""

  val queries: Map[String, Q] = Map(
    // ---- 5a. non-equi range join: same-user event pairs ≤5 min apart
    "q06_time_pair_join" -> Q(
      impl = (s, d) => {
        val e = Tables.events(s, d).select("user_id", "event_id", "us")
        val a = e.toDF("user_id", "a_id", "a_us")
        val b = e.toDF("user_id", "b_id", "b_us")
        a.join(b, Seq("user_id"))
          .filter(col("a_id") < col("b_id")
            && abs(col("a_us") - col("b_us")) <= FiveMinUs)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id")
      },
      oracle = Some(s"""
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
        SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs
        FROM e a JOIN e b ON a.user_id = b.user_id
          AND a.event_id < b.event_id
          AND abs(a.us - b.us) <= $FiveMinUs
        GROUP BY a.user_id
        ORDER BY a.user_id"""),
      bench = true),

    // ---- 5b. binned interval overlap join (the 100 TB strategy) ----
    // Intervals: [ts, ts + value seconds]; overlapping same-type pairs.
    // Implementation is the bin-exploded equi-join; the oracle is the
    // plain non-equi join — results must be identical.
    "q07_interval_join_binned" -> Q(
      impl = (s, d) => {
        val iv = Tables.events(s, d).select(
          col("event_type"),
          col("event_id"),
          col("us").as("s_us"),
          (col("us") + round(col("value") * 1000000, 0).cast("long")).as("e_us"))
        val left = iv.toDF("event_type", "a_id", "a_s", "a_e")
        val right = iv.toDF("event_type", "b_id", "b_s", "b_e")
        IntervalJoin.binned(left, right, keys = Seq("event_type"),
            lStart = "a_s", lEnd = "a_e", rStart = "b_s", rEnd = "b_e",
            binWidth = 60000000L,
            extraCondition = col("a_id") < col("b_id"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_overlaps"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH iv AS (
          SELECT event_type, event_id, epoch_us(ts) AS s_us,
                 epoch_us(ts) + CAST(round(value * 1000000) AS BIGINT) AS e_us
          FROM events)
        SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_overlaps
        FROM iv a JOIN iv b ON a.event_type = b.event_type
          AND a.event_id < b.event_id
          AND a.s_us <= b.e_us AND b.s_us <= a.e_us
        GROUP BY a.event_type
        ORDER BY a.event_type"""),
      bench = true),

    // ---- 15. tumbling-window aggregation (batch) -------------------
    "q19_window_tumbling" -> Q(
      impl = (s, d) =>
        Tables.events(s, d)
          .withColumn("w_start_us", expr(s"(us div $WindowUs) * $WindowUs"))
          .groupBy("w_start_us", "event_type")
          .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("v"))
          .orderBy("w_start_us", "event_type"),
      oracle = Some(s"""
        SELECT (epoch_us(ts) // $WindowUs) * $WindowUs AS w_start_us, event_type,
               CAST(count(*) AS BIGINT) AS n, round(sum(value), 3) AS v
        FROM events
        GROUP BY 1, 2
        ORDER BY w_start_us, event_type"""),
      bench = true),

    // ---- sessionization: 30-min-gap sessions per user --------------
    "q33_sessionize" -> Q(
      impl = (s, d) => EventStream.sessionCountsBatch(Tables.events(s, d)),
      oracle = Some(SessionCountsSql)),

    // ---- as-of join: last prior click before each purchase ---------
    "q34_asof_join" -> Q(
      impl = (s, d) => {
        val (purchases, clicks) = purchasesAndClicks(s, d)
        AsOfJoin.lastBefore(purchases, clicks, Seq("user_id"),
            lTime = "us", rTime = "cus", payloadCols = Seq("cid", "cus"))
          .select(
            col("pid"),
            col("asof_match.cid").as("cid"),
            (col("us") - col("asof_match.cus")).as("gap_us"))
          .orderBy("pid")
      },
      oracle = Some(s"""
        WITH $PurchaseClickCtes
        SELECT pid, cid, pus - cus AS gap_us
        FROM p ASOF JOIN c ON p.user_id = c.cu AND p.pus >= c.cus
        ORDER BY pid"""),
      bench = true),

    // ---- JSON extraction from the props column ---------------------
    "q35_json_extract" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
            min("k").as("min_k"), max("k").as("max_k"))
          .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
               CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- pivot: per-day event-type count matrix --------------------
    "q36_pivot" -> Q(
      impl = (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val pivoted = Tables.events(s, d)
          .withColumn("day", expr(s"us div $DayUs"))
          .groupBy("day")
          .pivot("event_type", types)
          .count()
        // pivot yields null for absent combinations; the oracle's
        // FILTER-aggregation yields 0 — align on 0.
        pivoted.select(
            col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy("day")
      },
      oracle = Some(s"""
        SELECT (epoch_us(ts) // $DayUs) AS day,
               CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
               CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
               CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
               CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
               CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        FROM events GROUP BY 1 ORDER BY day""")),

    // ---- sliding windows via Spark's native window() ----------------
    "q55_window_sliding" -> Q(
      impl = (s, d) =>
        Tables.events(s, d)
          .withColumn("__ts", timestamp_micros(col("us")))
          .groupBy(window(col("__ts"), "1800 seconds", "900 seconds"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("v"))
          .select(unix_micros(col("window.start")).as("w_start_us"),
            col("event_type"), col("n"), col("v"))
          .orderBy("w_start_us", "event_type"),
      oracle = Some(SlidingCountsSql)),

    // ---- pure overlap join via the optimizer rule ------------------
    // No equi key at all: Catalyst alone would plan a nested-loop
    // product; graft.plans.BinnedIntervalJoinRule rewrites it into the
    // binned equi-join automatically. The DataFrame code is the naive
    // declarative join — the rule supplies the scale path.
    "q59_interval_rule" -> Q(
      impl = (s, d) => {
        if (!s.experimental.extraOptimizations
            .contains(graft.plans.BinnedIntervalJoinRule)) {
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ graft.plans.BinnedIntervalJoinRule
        }
        s.conf.set("spark.graft.intervalJoin.binWidth", "300000000")
        val iv = Tables.events(s, d).select(
          col("event_id"),
          col("us").as("s_us"),
          (col("us") + round(col("value") * 1000000, 0).cast("long")).as("e_us"))
        val a = iv.toDF("a_id", "a_s", "a_e")
        val b = iv.toDF("b_id", "b_s", "b_e")
        a.join(b, col("a_id") < col("b_id")
            && col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
          .groupBy(expr("a_s div 86400000000").as("day"))
          .agg(count(lit(1)).as("n_overlaps"))
          .orderBy("day")
      },
      oracle = Some("""
        WITH iv AS (
          SELECT event_id, epoch_us(ts) AS s,
                 epoch_us(ts) + CAST(round(value * 1000000) AS BIGINT) AS e
          FROM events)
        SELECT (a.s // 86400000000) AS day, CAST(count(*) AS BIGINT) AS n_overlaps
        FROM iv a JOIN iv b
          ON a.event_id < b.event_id AND a.s <= b.e AND b.s <= a.e
        GROUP BY 1 ORDER BY day"""),
      bench = true),

    // ---- forward as-of join: first click at/after each purchase ----
    "q65_asof_forward" -> Q(
      impl = (s, d) => {
        val (purchases, clicks) = purchasesAndClicks(s, d)
        AsOfJoin.firstAfter(purchases, clicks, Seq("user_id"),
            lTime = "us", rTime = "cus", payloadCols = Seq("cid", "cus"))
          .select(
            col("pid"),
            col("asof_match.cid").as("cid"),
            (col("asof_match.cus") - col("us")).as("gap_us"))
          .orderBy("pid")
      },
      oracle = Some(s"""
        WITH $PurchaseClickCtes
        SELECT pid, cid, cus - pus AS gap_us
        FROM p ASOF JOIN c ON p.user_id = c.cu AND p.pus <= c.cus
        ORDER BY pid""")),

    // ---- lag/lead navigation windows -------------------------------
    "q68_lag_lead" -> Q(
      impl = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("us"))
          .withColumn("prev_id", lag("event_id", 1).over(w))
          .withColumn("next_id", lead("event_id", 1).over(w))
          .withColumn("gap_us", col("us") - lag("us", 1).over(w))
          .orderBy("user_id", "us", "event_id")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
        SELECT user_id, event_id, us,
               lag(event_id) OVER w AS prev_id,
               lead(event_id) OVER w AS next_id,
               us - lag(us) OVER w AS gap_us
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ORDER BY user_id, us, event_id""")),

    // ---- salted two-phase aggregation (hot-key mitigation); result
    // must equal the plain one-phase groupBy ------------------------
    "q73_salted_agg" -> Q(
      impl = (s, d) =>
        Salted.aggregateSkewed(
            Tables.events(s, d), keys = Seq("event_type"), saltBuckets = 8,
            partialAggs = Seq(count(lit(1)).as("pn"),
              sum(col("value")).as("pv")),
            finalAggs = Seq(sum("pn").as("n"),
              round(sum("pv"), 3).as("v")))
          .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 3) AS v
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- RANGE window frames + rank-family functions: per-user
    // 5-minute trailing event count (range frame over event time),
    // percent_rank and cume_dist over the user's value ordering ------
    "q83_range_frame" -> Q(
      impl = (s, d) => {
        val byTime = Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(-300000000L, 0)
        val byValue = Window.partitionBy("user_id")
          .orderBy("value", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("us"), col("value"))
          .withColumn("n_5min", count(lit(1)).over(byTime))
          .withColumn("pr", round(percent_rank().over(byValue), 6))
          .withColumn("cd", round(cume_dist().over(byValue), 6))
          .select("user_id", "event_id", "n_5min", "pr", "cd")
          .orderBy("user_id", "event_id")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value
                   FROM events)
        SELECT user_id, event_id,
               CAST(count(*) OVER (
                 PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS n_5min,
               round(percent_rank() OVER w, 6) AS pr,
               round(cume_dist() OVER w, 6) AS cd
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
        ORDER BY user_id, event_id""")),

    // ---- native session_window (batch): per-session event counts ---
    "q85_session_window" -> Q(
      impl = (s, d) =>
        Tables.events(s, d)
          .withColumn("__ts", timestamp_micros(col("us")))
          .groupBy(col("user_id"),
            session_window(col("__ts"), "1800 seconds"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("s_start_us"),
            col("n_events"))
          .orderBy("user_id", "s_start_us"),
      oracle = Some("""
        WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        m AS (SELECT user_id, us,
                     CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0
                     END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        s AS (SELECT user_id, us, sum(new_s) OVER (
                PARTITION BY user_id ORDER BY us
                ROWS UNBOUNDED PRECEDING) AS sid
              FROM m)
        SELECT user_id, min(us) AS s_start_us, CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, sid ORDER BY user_id, s_start_us""")),

    // ---- typed cogroup (KeyValueGroupedDataset.cogroup): per user,
    // clicks strictly inside the [first purchase, last purchase] span
    // — imperative per-key logic over two co-partitioned streams, the
    // Dataset API's escape hatch when a join won't express it --------
    "q86_cogroup" -> Q(
      impl = (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("us")).as[Ev]
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("us")).as[Ev]
        purchases.groupByKey(_.user_id)
          .cogroup(clicks.groupByKey(_.user_id)) { (uid, ps, cs) =>
            val pTimes = ps.map(_.us).toSeq
            if (pTimes.isEmpty) Iterator.empty
            else {
              val lo = pTimes.min
              val hi = pTimes.max
              val n = cs.count(c => c.us > lo && c.us < hi)
              Iterator.single((uid, n.toLong))
            }
          }
          .toDF("user_id", "n_clicks_between")
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH p AS (SELECT user_id, min(epoch_us(ts)) AS lo,
                          max(epoch_us(ts)) AS hi
                   FROM events WHERE event_type = 'purchase'
                   GROUP BY user_id),
             c AS (SELECT user_id, epoch_us(ts) AS us FROM events
                   WHERE event_type = 'click')
        SELECT p.user_id,
               CAST(count(c.us) FILTER (c.us > p.lo AND c.us < p.hi)
                 AS BIGINT) AS n_clicks_between
        FROM p LEFT JOIN c ON p.user_id = c.user_id
        GROUP BY p.user_id ORDER BY p.user_id""")),

    // ---- pivot: per-user event-type count matrix. With the value
    // list supplied this is ONE hash aggregation (map-side partial +
    // final, no values-discovery job, no extra shuffle) — the wide
    // feature-matrix step before ML feature export ---------------------
    "q98_pivot_matrix" -> Q(
      impl = (s, d) => {
        val wide = Tables.load(s, d, "events")
          .groupBy("user_id")
          .pivot("event_type", EventTypes)
          .agg(count(lit(1)))
        EventTypes.foldLeft(wide) { (df, t) =>
          df.withColumn(s"n_$t", coalesce(col(t).cast("long"), lit(0L)))
        }
          .select(col("user_id") +: EventTypes.map(t => col(s"n_$t")): _*)
          .orderBy("user_id")
      },
      oracle = Some {
        val cols = EventTypes.map(t =>
          s"CAST(count(*) FILTER (event_type = '$t') AS BIGINT) AS n_$t")
          .mkString(",\n               ")
        s"""
        SELECT user_id,
               $cols
        FROM events GROUP BY 1 ORDER BY user_id"""
      }),

    // ---- unpivot (melt): the wide matrix back to long form — the
    // inverse transform, a narrow per-row expansion (no shuffle beyond
    // q98's agg) --------------------------------------------------------
    "q99_unpivot_melt" -> Q(
      impl = (s, d) => {
        val wide = Tables.load(s, d, "events")
          .groupBy("user_id")
          .pivot("event_type", EventTypes)
          .agg(count(lit(1)))
        val filled = EventTypes.foldLeft(wide) { (df, t) =>
          df.withColumn(s"n_$t", coalesce(col(t).cast("long"), lit(0L)))
        }.select(col("user_id") +: EventTypes.map(t => col(s"n_$t")): _*)
        filled.unpivot(
            Array(col("user_id")),
            EventTypes.map(t => col(s"n_$t")).toArray,
            "event_type", "n")
          .orderBy("user_id", "event_type")
      },
      oracle = Some {
        val wideCols = EventTypes.map(t =>
          s"CAST(count(*) FILTER (event_type = '$t') AS BIGINT) AS n_$t")
          .mkString(", ")
        val arms = EventTypes.map(t =>
          s"SELECT user_id, 'n_$t' AS event_type, n_$t AS n FROM w")
          .mkString("\n        UNION ALL ")
        s"""
        WITH w AS (SELECT user_id, $wideCols FROM events GROUP BY 1)
        $arms
        ORDER BY user_id, event_type"""
      }),

    // ---- time-grid resample + forward fill: align every user's event
    // series to a fixed 6-hour grid, carrying the latest observation
    // forward — the gap-filling step of time-series feature prep. The
    // grid is PER-USER: each user's sequence spans only their own
    // [min(us), max(us)] (t0 floored to the global step so grid points
    // stay phase-aligned across users) — at 100 TB a user active for
    // an hour pays for an hour, not for the corpus's multi-year span
    // (a global-span grid is O(users × corpus_span / step), a
    // scale-killer). The span agg and the grid ride the same
    // groupBy(user) shuffle; the fill is the as-of operator (union +
    // carry-forward window, one shuffle on user_id — never a
    // per-grid-point range join). Events sharing (user, ts) are
    // pre-aggregated so the fill is deterministic under any as-of tie
    // order -----------------------------------------------------------
    "q112_resample_ffill" -> Q(
      impl = (s, d) => {
        val ev = Tables.events(s, d)
          .groupBy(col("user_id"), col("us"))
          .agg(max("value").as("value"))
        val grid = ev.groupBy("user_id")
          .agg(expr(s"(min(us) div $ResampleStepUs) * $ResampleStepUs").as("t0"),
            max("us").as("mx"))
          .select(col("user_id"),
            explode(sequence(col("t0"), col("mx"),
              lit(ResampleStepUs))).as("gus"))
        graft.operators.AsOfJoin.lastBefore(grid, ev, Seq("user_id"),
            lTime = "gus", rTime = "us", payloadCols = Seq("us", "value"))
          .select(col("user_id"), col("gus"),
            col("asof_match.us").as("last_us"),
            round(col("asof_match.value"), 3).as("last_value"))
          .orderBy("user_id", "gus")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT user_id, epoch_us(ts) AS us, max(value) AS value
                    FROM events GROUP BY 1, 2),
        spanu AS (SELECT user_id,
                         (min(us) // $ResampleStepUs) * $ResampleStepUs AS t0,
                         max(us) AS mx
                  FROM ev GROUP BY user_id),
        grid AS (SELECT user_id,
                        unnest(generate_series(t0, mx, $ResampleStepUs)) AS gus
                 FROM spanu)
        SELECT g.user_id, g.gus, e.us AS last_us,
               round(e.value, 3) AS last_value
        FROM grid g ASOF JOIN ev e
          ON g.user_id = e.user_id AND g.gus >= e.us
        ORDER BY g.user_id, g.gus""")),

    // ---- per-entity rate cap: keep the first K events per (user,
    // day), drop the rest — the per-source quota / spam-cap stage of
    // event-stream curation. (user, day) is HIGH-cardinality, so the
    // ranked window is the right tool here (millions of independent
    // tiny groups hash-spread evenly); the grouped-scan operators are
    // for the opposite regime (few giant groups) -------------------
    "q120_rate_cap" -> Q(
      impl = (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            expr(s"us div $DayUs").as("day"), col("us"))
        TopK.perGroup(ev, Seq("user_id", "day"),
            Seq(col("us"), col("event_id")), RateCapK)
          .select(col("user_id"), col("day"), col("event_id"), col("rk"))
          .orderBy("user_id", "day", "rk")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT event_id, user_id,
                           epoch_us(ts) // $DayUs AS day, epoch_us(ts) AS us
                    FROM events),
        r AS (SELECT *, row_number() OVER (PARTITION BY user_id, day
                ORDER BY us, event_id) AS rk
              FROM ev)
        SELECT user_id, day, event_id, CAST(rk AS BIGINT) AS rk
        FROM r WHERE rk <= $RateCapK
        ORDER BY user_id, day, rk"""),
      bench = true),

    // ---- ordered funnel: users who did view, then click strictly
    // after their first view, then purchase strictly after that first
    // qualifying click. Each stage is one hash aggregation on user_id
    // (high-cardinality → even spread) plus one user-keyed equi-join
    // against the prior stage; the surviving-user frames shrink
    // monotonically, so AQE turns the later joins into broadcasts.
    // Never a per-user event-sequence sort ---------------------------
    "q124_funnel" -> Q(
      impl = (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("us"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("us").as("t1"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("us") > col("t1"))
          .groupBy("user_id").agg(min("us").as("t2"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("us") > col("t2"))
          .groupBy("user_id").agg(min("us").as("t3"))
        v.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("1_view"))
          .unionByName(
            c.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("2_click")))
          .unionByName(
            p.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("3_purchase")))
          .select(col("stage"), col("n_users"))
          .orderBy("stage")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        v AS (SELECT user_id, min(us) AS t1 FROM ev
              WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, min(e.us) AS t2
              FROM ev e JOIN v ON v.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.us > v.t1
              GROUP BY e.user_id),
        p AS (SELECT e.user_id, min(e.us) AS t3
              FROM ev e JOIN c ON c.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.us > c.t2
              GROUP BY e.user_id)
        SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
        UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
        UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
        ORDER BY stage"""),
      bench = true),

    // ---- cohort retention: cohort = a user's first active day; one
    // cell per (cohort, day-offset) counting users still active. The
    // distinct-activity frame and the first-day frame are both single
    // hash shuffles on user_id; the final cell aggregation is a
    // shuffle on the (cohort, offset) grid — thousands of cells at
    // any corpus size, so the heavy lifting stays on the user key ----
    "q125_retention" -> Q(
      impl = (s, d) => {
        val act = Tables.events(s, d)
          .select(col("user_id"), expr(s"us div $DayUs").as("day"))
          .distinct()
        val first = act.groupBy("user_id").agg(min("day").as("cohort"))
        act.join(first, "user_id")
          .select(col("cohort"), (col("day") - col("cohort")).as("offset"))
          .groupBy("cohort", "offset").agg(count(lit(1)).as("n_users"))
          .orderBy("cohort", "offset")
      },
      oracle = Some(s"""
        WITH act AS (SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day
                     FROM events),
        f AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY user_id)
        SELECT f.cohort, act.day - f.cohort AS offset,
               CAST(count(*) AS BIGINT) AS n_users
        FROM act JOIN f ON f.user_id = act.user_id
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      bench = true),

    // ---- gap-based sessionization: the classic batch session
    // assignment — a session break is a >30 min silence, session id is
    // the running count of breaks. Both windows partition on user_id
    // (high-cardinality → even spread; one task never sees more than
    // one user's events sorted). The tie order of equal timestamps
    // cannot shift results: a tied row's gap is 0 (never a break) and
    // tied rows always share a session id ----------------------------
    "q129_sessionize" -> Q(
      impl = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us")
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sess = Tables.events(s, d)
          .select(col("user_id"), col("us"))
          .withColumn("prev", lag("us", 1).over(w))
          .withColumn("brk",
            when(col("prev").isNull ||
              col("us") - col("prev") > SessionGapUs, 1L).otherwise(0L))
          .withColumn("sid", sum("brk").over(run))
          .groupBy("user_id", "sid")
          .agg(count(lit(1)).as("n_events"),
            min("us").as("t0"), max("us").as("t1"))
        sess.groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            max("n_events").as("max_events"),
            sum(col("t1") - col("t0")).as("total_dur_us"))
          .orderBy("user_id")
      },
      oracle = Some(s"""
        WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        g AS (SELECT user_id, us,
                CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > $SessionGapUs
                     THEN 1 ELSE 0 END AS brk
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        st AS (SELECT user_id, us,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
               FROM g),
        sess AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
                        min(us) AS t0, max(us) AS t1
                 FROM st GROUP BY 1, 2)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(max(n_events) AS BIGINT) AS max_events,
               CAST(sum(t1 - t0) AS BIGINT) AS total_dur_us
        FROM sess GROUP BY 1 ORDER BY user_id"""),
      bench = true),

    // ---- Tukey-fence outliers: values above p75 + 1.5·IQR of their
    // event type. Exact `percentile` ≡ `quantile_cont` (parity pinned
    // by q57); the fence arithmetic is the same IEEE ops on the same
    // doubles in both engines, and only counts are emitted. The
    // percentile table is group-cardinality-sized → broadcast back --
    "q139_iqr_outliers" -> Q(
      impl = (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"), col("value"))
        val fences = ev.groupBy("event_type").agg(
          expr("percentile(value, 0.25)").as("q1"),
          expr("percentile(value, 0.75)").as("q3"))
        ev.join(broadcast(fences), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("value") > col("q3") + (col("q3") - col("q1")) * 1.5,
              1L).otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH f AS (SELECT event_type,
                          quantile_cont(value, 0.25) AS q1,
                          quantile_cont(value, 0.75) AS q3
                   FROM events GROUP BY 1)
        SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN e.value > f.q3 + (f.q3 - f.q1) * 1.5
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM events e JOIN f ON f.event_type = e.event_type
        GROUP BY 1 ORDER BY 1"""),
      bench = true),

    // ---- approximate-quantile accuracy contract (the q51 pattern for
    // quantile sketches): each engine runs its own mergeable quantile
    // sketch (Spark approx_percentile, DuckDB t-digest approx_quantile
    // — different algorithms, so raw outputs can't hash-match) and the
    // CONTRACT — approx within 5% of that engine's exact median — is
    // what both must satisfy, alongside the bit-identical quantized
    // exact value. The sketch is the 100 TB path: constant-size
    // partials under any merge tree, vs the exact percentile's
    // per-group value materialization ------------------------------
    "q143_approx_quantile" -> Q(
      impl = (s, d) =>
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(expr("approx_percentile(value, 0.5, 1000)").as("ap"),
            expr("percentile(value, 0.5)").as("ex"))
          .select(col("event_type"),
            (abs(col("ap") - col("ex")) <= abs(col("ex")) * 0.05 + 1e-9)
              .as("approx_ok"),
            expr("CAST(round(ex * 1000000) AS BIGINT)").as("exact_median_micro"))
          .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type,
               abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
                 <= abs(quantile_cont(value, 0.5)) * 0.05 + 1e-9 AS approx_ok,
               CAST(round(quantile_cont(value, 0.5) * 1000000) AS BIGINT)
                 AS exact_median_micro
        FROM events GROUP BY 1 ORDER BY 1""")),

    // ---- event path mining: the 10 most frequent ordered 3-event
    // sequences. The sequence window partitions on user_id
    // (high-cardinality, so no giant task) with a total (us,
    // event_id) order — unique event ids make the lead deterministic
    // under timestamp ties. The global count shuffles on the 3-gram
    // key; the final top-10 is TakeOrdered ------------------------
    "q145_event_paths" -> Q(
      impl = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("us"), col("event_id"))
          .withColumn("a", col("event_type"))
          .withColumn("b", lead("event_type", 1).over(w))
          .withColumn("c", lead("event_type", 2).over(w))
          .filter(col("c").isNotNull)
          .groupBy("a", "b", "c").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("a"), col("b"), col("c"))
          .limit(10)
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
                   FROM events),
        w AS (SELECT event_type AS a,
                lead(event_type, 1) OVER uw AS b,
                lead(event_type, 2) OVER uw AS c
              FROM e WINDOW uw AS (PARTITION BY user_id ORDER BY us, event_id))
        SELECT a, b, c, CAST(count(*) AS BIGINT) AS n
        FROM w WHERE c IS NOT NULL
        GROUP BY 1, 2, 3 ORDER BY n DESC, a, b, c LIMIT 10"""),
      bench = true),

    // ---- per-type equi-width value histogram (10 bins over the
    // type's own [min, max]): bounds are a group-cardinality-sized
    // broadcast back; bin assignment is pure per-row arithmetic on
    // identical doubles in both engines, and only integer counts are
    // emitted. The degenerate all-equal-values group (mx = mn) pins
    // everything to bin 0 ------------------------------------------
    "q146_value_histogram" -> Q(
      impl = (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"), col("value"))
        val bounds = ev.groupBy("event_type")
          .agg(min("value").as("mn"), max("value").as("mx"))
        ev.join(broadcast(bounds), "event_type")
          .withColumn("bin",
            when(col("mx") === col("mn"), 0L).otherwise(
              least(lit(9L), greatest(lit(0L),
                floor((col("value") - col("mn")) /
                  ((col("mx") - col("mn")) / 10.0)).cast("long")))))
          .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
          .orderBy("event_type", "bin")
      },
      oracle = Some("""
        WITH s AS (SELECT event_type, min(value) AS mn, max(value) AS mx
                   FROM events GROUP BY 1)
        SELECT e.event_type,
               CASE WHEN s.mx = s.mn THEN 0
                    ELSE CAST(least(9, greatest(0,
                      floor((e.value - s.mn) / ((s.mx - s.mn) / 10.0))))
                      AS BIGINT) END AS bin,
               CAST(count(*) AS BIGINT) AS n
        FROM events e JOIN s ON s.event_type = e.event_type
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- incremental aggregate maintenance end-to-end: the events
    // table split into three append batches, each reduced to its
    // per-key partial state, states merged and finalized — and the
    // result must equal the direct one-shot aggregate (the oracle).
    // At 100 TB the merge inputs are O(|keys|) state tables, so the
    // nightly update never rescans the base (operators.IncrementalAgg;
    // associativity is spec-pinned). avg's integer division assumes a
    // non-negative sum (events.value ≥ 0 at every SF) — the usual
    // truncate-vs-floor caveat of the engine-wide div contract ------
    "q147_incremental_agg" -> Q(
      impl = (s, d) => {
        import graft.operators.IncrementalAgg
        val ev = Tables.events(s, d)
        val batches = Seq(
          ev.filter(col("user_id") % 3 === 0),
          ev.filter(col("user_id") % 3 === 1),
          ev.filter(col("user_id") % 3 === 2))
        IncrementalAgg.finalize(IncrementalAgg.merge(
          batches.map(b => IncrementalAgg.init(b, Seq("event_type"), "value")),
          Seq("event_type")))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH q AS (SELECT event_type,
                          CAST(round(value * 1000000) AS BIGINT) AS vm
                   FROM events)
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(vm) AS BIGINT) AS sum_micro,
               CAST(sum(vm) AS BIGINT) // count(*) AS avg_micro,
               min(vm) AS min_micro, max(vm) AS max_micro
        FROM q GROUP BY 1 ORDER BY 1"""),
      bench = true),

    // ---- sketch-merge distinct counts through a rollup: per-type AND
    // grand-total distinct users in one pass — the grand-total row is
    // the UNION of the per-type HLL sketches (mergeability is what
    // makes the sketch the 100 TB path; the exact rollup would carry
    // every user id to the coordinator of each grouping set). Each
    // engine runs its own sketch (Spark HLL++, DuckDB HLL) against
    // its own exact rollup; the 10% contract + exact counts must
    // hash-match (the q51/q143 pattern) ----------------------------
    "q150_sketch_rollup" -> Q(
      impl = (s, d) =>
        Tables.events(s, d)
          .rollup("event_type")
          .agg(approx_count_distinct(col("user_id"), 0.02).as("ap"),
            count_distinct(col("user_id")).as("exact_users"))
          .select(
            coalesce(col("event_type"), lit("ALL")).as("event_type"),
            col("exact_users"),
            (abs(col("ap") - col("exact_users")) <=
              col("exact_users") * 0.10).as("approx_ok"))
          .orderBy("event_type"),
      oracle = Some("""
        SELECT coalesce(event_type, 'ALL') AS event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
               abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
                 <= count(DISTINCT user_id) * 0.10 AS approx_ok
        FROM events GROUP BY ROLLUP (event_type)
        ORDER BY event_type""")),

    // ---- SCD-2 validity intervals: each 'error' event opens a
    // version valid [its time, next same-user error); the open row
    // carries NULL valid_to. One window per user (high-cardinality
    // partitioning; (us, event_id) is a total order) — the standard
    // history-table build -----------------------------------------
    "q152_scd2_intervals" -> Q(
      impl = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        Tables.events(s, d)
          .filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id"), col("us"))
          .withColumn("valid_to", lead("us", 1).over(w) - 1L)
          .select(col("user_id"), col("event_id"),
            col("us").as("valid_from"), col("valid_to"))
          .orderBy("user_id", "valid_from", "event_id")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
                   FROM events WHERE event_type = 'error')
        SELECT user_id, event_id, us AS valid_from,
               lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - 1
                 AS valid_to
        FROM e ORDER BY user_id, valid_from, event_id NULLS FIRST""")),

    // ---- last-touch attribution on the native as-of join: each
    // purchase attributes to the user's most recent click at or
    // before it. Clicks reduce to one per (user, time) first — max
    // event_id wins — so the as-of carry-forward is deterministic
    // under timestamp ties; the operator is one key shuffle + one
    // in-partition sort, never a per-key range join (AsOfJoin.scala)
    "q153_last_touch" -> Q(
      impl = (s, d) => {
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("us").as("cus"))
          .agg(max("event_id").as("click_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"), col("us"))
        AsOfJoin.lastBefore(purchases, clicks,
          Seq("user_id"), "us", "cus", Seq("click_id", "cus"))
          .select(col("purchase_id"), col("asof_match.click_id").as("click_id"),
            (col("us") - col("asof_match.cus")).as("lag_us"))
          .orderBy("purchase_id")
      },
      oracle = Some("""
        WITH c AS (SELECT user_id, epoch_us(ts) AS cus,
                          CAST(max(event_id) AS BIGINT) AS click_id
                   FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
              FROM events WHERE event_type = 'purchase'),
        j AS (SELECT p.purchase_id, c.click_id, p.pus - c.cus AS lag_us,
                row_number() OVER (PARTITION BY p.purchase_id
                                   ORDER BY c.cus DESC) AS rk
              FROM p JOIN c ON c.user_id = p.user_id AND c.cus <= p.pus)
        SELECT purchase_id, click_id, lag_us FROM j WHERE rk = 1
        ORDER BY purchase_id"""),
      bench = true),

    // ---- discrete quantiles: percentile_disc returns an ACTUAL input
    // value (the smallest with cume_dist ≥ p) — byte-identical across
    // engines with no interpolation caveat, unlike the continuous
    // variant's derived doubles (pinned separately by q57/q126) ------
    "q155_disc_quantiles" -> Q(
      impl = (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("__ev155")
        s.sql("""
          SELECT event_type,
                 percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS p25,
                 percentile_disc(0.5)  WITHIN GROUP (ORDER BY value) AS p50,
                 percentile_disc(0.75) WITHIN GROUP (ORDER BY value) AS p75
          FROM __ev155 GROUP BY event_type ORDER BY event_type""")
      },
      oracle = Some("""
        SELECT event_type,
               quantile_disc(value, 0.25) AS p25,
               quantile_disc(value, 0.5)  AS p50,
               quantile_disc(value, 0.75) AS p75
        FROM events GROUP BY 1 ORDER BY 1"""))
  )
}
