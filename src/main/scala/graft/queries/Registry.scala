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
  * Streaming micro-batch runs (the `StreamingQueries` module, marked
  * by `Registry.modules`); Bench lists them separately in its
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

  /** The query modules, one per domain. `StreamingQueries` is marked
    * `streaming` here, so its declarations stay uncluttered.
    */
  private[queries] lazy val modules: Seq[Map[String, Q]] = Seq(
    Relational.queries, EventQueries.queries, DocQueries.queries,
    LshQueries.queries, VectorQueries.queries, SamplingQueries.queries,
    EtlQueries.queries,
    StreamingQueries.queries.map { case (n, q) => n -> q.copy(streaming = true) })

  /** Every declared query, by name. */
  lazy val all: Map[String, Q] = merge(modules)

  /** The union of the module maps; a name declared in two modules
    * fails instead of silently keeping one of the two queries.
    */
  private[queries] def merge(modules: Seq[Map[String, Q]]): Map[String, Q] =
    modules.foldLeft(Map.empty[String, Q]) { (acc, m) =>
      val dup = acc.keySet.intersect(m.keySet)
      require(dup.isEmpty, s"query declared twice: ${dup.toSeq.sorted.mkString(", ")}")
      acc ++ m
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
    "q183_bpe_segment" -> ((s, d) => DocQueries.ensureTrajectory(s, d)))
}
