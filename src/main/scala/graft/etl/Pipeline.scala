package graft.etl

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.EtlOptions

/** Pipeline orchestrator — the Spark replacement for the reference's
  * 13-process shell DAG (`create_database.sh:16-53`, SURVEY.md §3.1).
  *
  * One SparkSession, one driver program. The reference's
  * create-then-append per table family becomes one load per family
  * that reads all of the family's files in one scan, each row tagged
  * with its file's index (`graft.sources.InputFiles`); the only hard
  * ordering kept is the one that is semantically observable — file
  * order feeds the cross-file conflict rules of the reference's one
  * table per family (last wins for `homolog`, `syntenic_block` and
  * `gene_ontology_map`, §7.6.5; first wins for `feature`), and that
  * order lives inside one plan, not in the order plans run. Families
  * are independent pipelines: the reference serialized its loaders only
  * because they shared one SQLite file. Here `run` starts every family
  * load at once, so their eager header, validation and closure jobs
  * overlap, and `writeObserved` writes the tables at once; both go
  * through [[concurrently]].
  *
  * Sink (S9): each table lands as Parquet. Positional tables partition
  * by taxon and sort within partitions on (chr, start) — the physical
  * replacement for the reference's 18 B-tree indexes (§1.4): partition
  * pruning serves the per-species lookups, parquet min/max row-group
  * stats serve the (chr, start) range scans.
  */
object Pipeline {

  final case class SpeciesFile(path: String, taxonId: Int)
  final case class Inputs(
      genes: Seq[SpeciesFile] = Nil,
      blocks: Seq[String] = Nil,
      cytobands: Seq[SpeciesFile] = Nil,
      features: Seq[SpeciesFile] = Nil,
      variants: Seq[SpeciesFile] = Nil,
      obo: Seq[String] = Nil,
      gaf: Seq[(String, Int)] = Nil,
      homologs: Seq[String] = Nil)

  /** Run every family; returns the ten tables by name. Each family's
    * load is one concurrent task over all of its input files, read in
    * one scan per format; a family that names one file twice fails,
    * naming the file.
    */
  def run(spark: SparkSession, in: Inputs,
      opts: EtlOptions = EtlOptions()): Map[String, DataFrame] = {
    def family(files: Seq[_])(load: => Seq[(String, DataFrame)]) =
      Option.when(files.nonEmpty)(() => load)
    val loads: Seq[() => Seq[(String, DataFrame)]] = Seq(
      family(in.genes) {
        val r = GenesExonsEtl.load(spark, in.genes)
        Seq("gene" -> r.genes, "exon" -> r.exons)
      },
      family(in.blocks)(Seq("syntenic_block" -> SyntenyBlocksEtl.load(spark, in.blocks, opts))),
      family(in.cytobands)(Seq("cytogenetic_band" -> CytoBandEtl.load(spark, in.cytobands))),
      family(in.features)(Seq("feature" -> FeaturesEtl.load(spark, in.features, opts))),
      family(in.variants)(Seq("snp_variant" -> VariantsEtl.load(spark, in.variants))),
      family(in.obo) {
        val o = OntologyEtl.load(spark, in.obo)
        Seq("on_terms" -> o.terms, "on_pairs" -> o.pairs)
      },
      family(in.gaf)(Seq("gene_ontology_map" -> OntologyEtl.loadGafs(spark, in.gaf))),
      family(in.homologs)(Seq("homolog" -> HomologsEtl.load(spark, in.homologs).homologs))
    ).flatten
    concurrently(loads).flatten.toMap
  }

  /** The name of [[concurrently]]'s pool threads. */
  private[etl] val WorkerName = "graft-pipeline"

  /** Runs `tasks` at once on a pool of one thread per task, created for
    * this call and shut down before it returns; returns their results
    * in task order. Pool threads start inside the call, so they inherit
    * the caller's active session and Spark local properties (job group,
    * scheduler pool, job description).
    *
    * When tasks fail, every task still runs to its end, and then the
    * first failure in task order is rethrown as it was thrown — the
    * exception a one-at-a-time loop would have stopped on.
    */
  private def concurrently[A](tasks: Seq[() => A]): Seq[A] =
    if (tasks.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(tasks.size,
        (r: Runnable) => new Thread(r, WorkerName))
      try {
        val futures = tasks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
        val outcomes = futures.map { f =>
          try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
        }
        outcomes.map(_.fold(e => throw e, identity))
      } finally {
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    }

  /** Scale-oriented physical layout per table: (partition column,
    * in-partition sort). Mirrors the reference's index set (§1.4).
    */
  private val layout: Map[String, (Option[String], Seq[String])] = Map(
    "gene" -> (Some("gene_taxonid"), Seq("gene_chr", "gene_start_pos")),
    // mirrors index exon(parent_gene, exon_start_pos)
    // (reference import_genes_exons.py:76): ordered exon-of-gene
    // retrieval skips row groups on the parent_gene min/max stats
    "exon" -> (Some("taxonid"), Seq("parent_gene", "exon_start_pos")),
    "feature" -> (Some("taxon_id"), Seq("type", "name")),
    "cytogenetic_band" -> (Some("taxon_id"), Seq("chr", "start")),
    "snp_variant" -> (Some("taxon_id"), Seq("chr", "pos")),
    "syntenic_block" -> (Some("ref_taxonid"), Seq("ref_chr", "ref_start_pos")),
    "homolog" -> (Some("ref_taxon_id"), Seq("ref_gene_id")),
    "on_terms" -> (None, Seq("id")),
    "on_pairs" -> (None, Seq("parent", "child")),
    "gene_ontology_map" -> (None, Seq("ontology_id", "gene_id")))

  private def writeOne(name: String, df: DataFrame, outDir: String,
      dynamicPartitionOverwrite: Boolean): Unit = {
    val (partCol, sortCols) = layout.getOrElse(name, (None, Nil))
    val writer = partCol match {
      case Some(p) =>
        df.repartition(col(p))
          .sortWithinPartitions(sortCols.map(col): _*)
          .write.partitionBy(p)
          .option("partitionOverwriteMode",
            if (dynamicPartitionOverwrite) "dynamic" else "static")
      case None =>
        df.sortWithinPartitions(sortCols.map(col): _*).write
    }
    writer.mode("overwrite").parquet(s"$outDir/$name")
  }

  /** The parquet sink: each table partitioned by taxon and sorted to
    * mirror its reference indexes (`layout`), the tables written at
    * once on a pool of one thread per table. Record accounting (SURVEY
    * A4) rides the write job itself: each table's written-row count
    * comes from `Dataset.observe` — the Spark-native form of the
    * reference's loader counters, with NO second pass over the data (a
    * `count()` after the fact would re-read every table; at 100 TB that
    * doubles the job). Returns rows written per table.
    *
    * @param dynamicPartitionOverwrite when true, an overwrite replaces
    *        only the taxon partitions present in the incoming frame
    *        (Spark's dynamic partitionOverwriteMode) — the per-species
    *        reload the reference does by re-running one loader, without
    *        rewriting every other species' data. Default (static)
    *        overwrites the whole table.
    */
  def writeObserved(tables: Map[String, DataFrame], outDir: String,
      dynamicPartitionOverwrite: Boolean = false): Map[String, Long] =
    concurrently(tables.toSeq.map { case (name, df) => () =>
      val obs = org.apache.spark.sql.Observation(s"graft_write_$name")
      writeOne(name, df.observe(obs, count(lit(1)).as("rows")),
        outDir, dynamicPartitionOverwrite)
      name -> obs.get("rows").asInstanceOf[Long]
    }).toMap

  /** S9 parity sink: every table through Spark's JDBC writer — the
    * drop-in replacement for the reference's single SQLite `.db`
    * deliverable (`create_database.sh:9`). Works with any JDBC driver
    * on the classpath (SQLite via sqlite-jdbc when present; Derby
    * embedded ships with Spark and is what CliSpec round-trips).
    *
    * Embedded single-file engines are single-writer, so the tables are
    * written one after another (unlike `writeObserved`'s concurrent
    * tables) and each is coalesced to one partition — this sink is a
    * small-deliverable parity convenience; the scale path is the
    * partitioned/sorted parquet layout in `writeObserved`.
    */
  def writeJdbc(tables: Map[String, DataFrame], url: String,
      properties: java.util.Properties = new java.util.Properties()): Unit =
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").jdbc(url, name, properties)
    }
}
