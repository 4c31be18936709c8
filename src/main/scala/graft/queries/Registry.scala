package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) a DuckDB oracle over the same
  * parquet tables. Column names/types must line up exactly with the
  * oracle — the driver sorts columns by name and hash-compares values
  * (see the builder contract in SparkEntry).
  *
  * `oracleGen` is for queries whose oracle SQL depends on DATA-derived
  * state that is nonetheless deterministic — e.g. the ANN queries,
  * whose k-means codebooks train from a seeded sample of the input:
  * the generator re-trains the identical model at Verify time and
  * emits it as literal VALUES rows inside the SQL. Exactly one of
  * `oracle` / `oracleGen` should be set (or neither, for rows-only).
  *
  * `bench = true` marks the headline set timed by `graft.Bench`.
  *
  * `streaming = true` marks queries that execute as Structured
  * Streaming micro-batch runs; Bench lists them separately in its
  * JSON so baseline ratios can separate per-trigger fixed overhead
  * (a micro-batch artifact at toy scale) from dataflow cost.
  */
final case class Q(
    impl: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false,
    oracleGen: Option[(SparkSession, String) => String] = None,
    streaming: Boolean = false)

object Registry {

  /** The Structured-Streaming micro-batch queries (marked centrally so
    * the declarations stay uncluttered; `all` applies the flag). Kept
    * consistent with the declarations by the require below.
    */
  private val streamingNames: Set[String] = Set(
    "q20_stream_tumbling", "q39_stream_sessionize", "q63_stream_stream_join",
    "q71_stream_dedup", "q74_stream_sliding", "q82_stream_watermark",
    "q100_stream_static_enrich", "q108_stream_outer_join",
    "q111_stream_dedup_watermark", "q142_stream_spend_monitor",
    "q188_stream_neardup_ingest")

  lazy val all: Map[String, Q] = {
    val base =
      Relational.queries ++ EventQueries.queries ++ DocQueries.queries ++
        VectorQueries.queries ++ EtlQueries.queries ++ Extended.queries ++
        Extended2.queries ++ Extended3.queries ++ Extended4.queries ++
        Extended5.queries ++ Extended6.queries ++ Extended7.queries ++
        Extended8.queries ++ Extended9.queries ++ Extended10.queries ++
        Extended11.queries ++ Extended12.queries ++ Extended13.queries ++
        Extended14.queries ++ Extended15.queries ++ Extended16.queries ++
        Extended17.queries ++ Extended18.queries ++ Extended19.queries ++
        Extended20.queries ++ Extended21.queries ++ Extended22.queries ++
        Extended23.queries ++ Extended24.queries
    val missing = streamingNames -- base.keySet
    require(missing.isEmpty, s"streamingNames not in registry: $missing")
    base.map { case (n, q) =>
      n -> (if (streamingNames(n)) q.copy(streaming = true) else q)
    }
  }

  /** Untimed per-query preparation the timing harnesses (Bench,
    * tools.JobProfile) run before a query's timed region. Only for
    * JVM-local memo state that is part of a query's DECLARED timing
    * contract: q183 is an apply-only benchmark (its generated oracle
    * applies the same precomputed merges), so its trajectory memo is
    * warmed here — otherwise its time would depend on whether q182
    * happened to run first in the same JVM. Correctness runs
    * (Verify) never consult this map.
    */
  val timingPrep: Map[String, (SparkSession, String) => Unit] = Map(
    "q183_bpe_segment" -> ((s, d) => Extended21.ensureTrajectory(s, d)))
}
