package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.MinHashLsh
import graft.streaming.EventStream
import EventQueries.WindowUs
import Shared.{MinhashK, Threshold, hashCte, sigSelect}

/** Structured Streaming queries: each runs as micro-batches over a file
  * source (`EventStream`, `NearDupIngest`) into a memory or parquet
  * sink and returns what the sink holds after the last trigger.
  * `Registry` marks every query here `streaming`, so Bench reports
  * their times apart from the batch queries.
  */
object StreamingQueries {

  val queries: Map[String, Q] = Map(
    // ---- streaming parity: same aggregation via Structured Streaming
    "q20_stream_tumbling" -> Q(
      impl = (s, d) => EventStream.tumblingCounts(s, d, WindowUs),
      oracle = Some(s"""
        SELECT (epoch_us(ts) // $WindowUs) * $WindowUs AS w_start_us, event_type,
               CAST(count(*) AS BIGINT) AS n, round(sum(value), 3) AS v
        FROM events
        GROUP BY 1, 2
        ORDER BY w_start_us, event_type""")),

    // ---- stateful streaming sessionization (flatMapGroupsWithState)
    "q39_stream_sessionize" -> Q(
      impl = (s, d) => EventStream.sessionCountsStateful(s, d),
      oracle = Some("""
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        m AS (
          SELECT user_id,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
        FROM m GROUP BY user_id ORDER BY user_id""")),

    // ---- stream-stream interval join (watermarked both sides) ------
    "q63_stream_stream_join" -> Q(
      impl = (s, d) => EventStream.purchaseClickJoin(s, d),
      oracle = Some("""
        WITH p AS (SELECT event_id AS pid, user_id, epoch_us(ts) AS pus
                   FROM events WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS cid, user_id AS cu, epoch_us(ts) AS cus
                   FROM events WHERE event_type = 'click')
        SELECT pid, CAST(count(*) AS BIGINT) AS n_clicks_30m
        FROM p JOIN c ON p.user_id = c.cu
          AND c.cus >= p.pus - 1800000000 AND c.cus <= p.pus
        GROUP BY pid ORDER BY pid""")),

    // ---- streaming exact dedup (dropDuplicates state store) --------
    "q71_stream_dedup" -> Q(
      impl = (s, d) => EventStream.streamDedupCounts(s, d),
      oracle = Some("""
        SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- streaming parity for the sliding window (q55) -------------
    "q74_stream_sliding" -> Q(
      impl = (s, d) => EventStream.slidingCounts(s, d,
        widthUs = 1800000000L, slideUs = 900000000L),
      oracle = Some {
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
      }),

    // ---- append-mode watermarked windows: only windows finalized by
    // the watermark (max event time − 1 h, at Spark's millisecond
    // watermark granularity) are emitted — late-data semantics as a
    // deterministic, oracle-checkable function of the data -----------
    "q82_stream_watermark" -> Q(
      impl = (s, d) => EventStream.tumblingAppendWatermarked(s, d,
        windowUs = WindowUs, delayUs = 3600000000L),
      oracle = Some(s"""
        WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
        w AS (SELECT (us // $WindowUs) * $WindowUs AS w_start_us, event_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM e GROUP BY 1, 2),
        wm AS (SELECT ((max(us) // 1000) - 3600000) * 1000 AS wm_us FROM e)
        SELECT w_start_us, event_type, n
        FROM w, wm WHERE w_start_us + $WindowUs <= wm_us
        ORDER BY w_start_us, event_type"""),
      bench = true),

    // ---- stream-static enrichment: events stream ⋈ broadcast
    // customer dim → per-(nation, type) stateful aggregate. No join
    // state store — the static side is re-planned per micro-batch —
    // so state is bounded by the aggregate's group count, not the
    // stream. Equals the batch join exactly --------------------------
    "q100_stream_static_enrich" -> Q(
      impl = (s, d) => EventStream.staticEnrichedCounts(s, d),
      oracle = Some("""
        SELECT c_nationkey, event_type,
               CAST(count(*) AS BIGINT) AS n, round(sum(value), 3) AS v
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2 ORDER BY c_nationkey, event_type""")),

    // ---- stream-stream LEFT OUTER interval join: q63's inner join
    // plus the outer contract — unmatched purchases emit null-padded
    // only after the global watermark passes them, so purchases newer
    // than (min side-max - 1h) are withheld at stream end. The oracle
    // reproduces the withholding rule at ms granularity rather than
    // pretending the batch left join is equivalent ------------------
    "q108_stream_outer_join" -> Q(
      impl = (s, d) => graft.streaming.EventStream.purchaseClickLeftOuter(s, d),
      oracle = Some("""
        WITH p AS (SELECT event_id AS pid, user_id, epoch_us(ts) AS pus
                   FROM events WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS cid, user_id AS cu, epoch_us(ts) AS cus
                   FROM events WHERE event_type = 'click'),
             wm AS (SELECT least((SELECT max(pus) FROM p),
                                 (SELECT max(cus) FROM c)) // 1000
                           - 3600000 AS wm_ms),
             agg AS (SELECT pid, pus, count(cid) AS n_clicks_30m
                     FROM p LEFT JOIN c ON user_id = cu
                       AND cus >= pus - 1800000000 AND cus <= pus
                     GROUP BY pid, pus)
        SELECT pid, n_clicks_30m
        FROM agg, wm
        WHERE n_clicks_30m > 0 OR (pus // 1000) < wm_ms
        ORDER BY pid""")),

    // ---- bounded-state streaming dedup: q71 with
    // dropDuplicatesWithinWatermark — state holds a key only until the
    // watermark passes it, O(window) not O(stream); equals batch
    // distinct when duplicate deliveries are time-local ---------------
    "q111_stream_dedup_watermark" -> Q(
      impl = (s, d) => graft.streaming.EventStream.streamDedupWatermarked(s, d),
      oracle = Some("""
        SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- arbitrary-stateful streaming on the v2 API: per-user
    // cumulative spend monitor via `transformWithState` + ValueState
    // on the RocksDB state store (see streaming/StateV2.scala). Spend
    // accumulates in long micro-units, so the final emission per user
    // is batch-exact no matter how the input was micro-batched — the
    // oracle is the plain batch aggregation ------------------------
    "q142_stream_spend_monitor" -> Q(
      impl = (s, d) => graft.streaming.StateV2.spendTotals(s, d),
      oracle = Some("""
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS spend_micro,
               sum(CAST(round(value * 1000000) AS BIGINT)) >= 500000000
                 AS alerted
        FROM events GROUP BY 1 ORDER BY user_id"""),
      bench = true),

    // ---- q188: streaming near-dup ingestion against a standing LSH
    // index — the production LLM-ingest composition of q161 (delta
    // probes a banded index) and the CorpusIngest exactly-once landing.
    // Delta docs (doc_id % 10 = 0) arrive as 3 mtime-ordered parquet
    // files → 3 micro-batches (maxFilesPerTrigger = 1); each batch
    // probes the index AS IT STOOD before the batch (capBuckets-guarded
    // side), survivors land idempotently and their band keys append, so
    // batch 2 dedups against batch 0/1's landed docs, not just the
    // original corpus. Output: every delta doc with its landed bit.
    // The oracle replays the 3 sequential batches as chained CTEs —
    // dup_b joins batch b against index ∪ landed_{<b} — so the
    // incremental index-growth semantics are hash-pinned, not just the
    // final probe ----------------------------------------------------
    "q188_stream_neardup_ingest" -> Q(
      impl = (s, d) => graft.streaming.NearDupIngest.demoRun(s, d),
      oracle = Some {
        val r = MinhashK / 4
        val bandRows = (0 until 4).map { b =>
          val key = (b * r until (b + 1) * r)
            .map(i => s"s$i").mkString(" || '|' || ")
          s"SELECT doc_id, $b AS band, ${MinHashLsh.bandKeySql(key)} AS key, " +
            (0 until MinhashK).map(i => s"s$i").mkString(", ") + " FROM sig"
        }.mkString("\n UNION ALL\n ")
        val m = (0 until MinhashK)
          .map(i => s"CASE WHEN l.s$i = r.s$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        def batchPred(side: String, b: Int) =
          s"$side.doc_id % 10 = 0 AND ($side.doc_id // 10) % 3 = $b"
        val batchCtes = (0 until 3).map { b =>
          val indexMembers = "r.doc_id % 10 <> 0" +
            (0 until b).map(pb =>
              s" OR r.doc_id IN (SELECT doc_id FROM land$pb)").mkString
          s"""
        dup$b AS (
          SELECT DISTINCT l.doc_id
          FROM band l JOIN band r
            ON l.band = r.band AND l.key = r.key
          WHERE ${batchPred("l", b)} AND ($indexMembers)
            AND round(($m) / ${MinhashK.toDouble}, 4) >= $Threshold),
        land$b AS (
          SELECT doc_id FROM documents d
          WHERE ${batchPred("d", b)}
            AND doc_id NOT IN (SELECT doc_id FROM dup$b))"""
        }.mkString(",")
        s"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM toks),
        sh AS (SELECT DISTINCT doc_id,
                      t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM idx WHERE i + 2 <= len(t)),$hashCte,
        sig AS (SELECT doc_id, $sigSelect FROM hh GROUP BY doc_id),
        band AS ($bandRows),$batchCtes,
        landed AS (SELECT doc_id FROM land0 UNION ALL
                   SELECT doc_id FROM land1 UNION ALL
                   SELECT doc_id FROM land2)
        SELECT d.doc_id AS delta_doc,
               CAST(l.doc_id IS NOT NULL AS BIGINT) AS landed
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        LEFT JOIN landed l ON l.doc_id = d.doc_id
        ORDER BY delta_doc"""
      },
      bench = true)
  )
}
