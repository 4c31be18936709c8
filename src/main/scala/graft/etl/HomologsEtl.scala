package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.{Gff3, InputFiles, LineFileSource}

/** Homolog table from header-validated TSV (reference
  * `import_homologs.py:79-150`).
  *
  * Header handling (S4/V3/C9): the first line (optionally `##`
  * prefixed) must *contain* the 13 required lowercase names; extra
  * columns warn. Data rows are then mapped POSITIONALLY to the 13
  * expected names — column order is assumed, exactly like the
  * reference's `csv.DictReader(fieldnames=…)` (`:111`). Blank and
  * space-only rows are skipped (DictReader skips empty rows, F3); any
  * other row short of 13 fields aborts the load.
  *
  * Semantics: C2 anchored chr strip on both seqids (`:124-127`);
  * V5 non-'orthologue' type warns but loads (`:129-132`); U2 each row
  * lands both ways (`:134-141`), as one `explode` of its forward and
  * reverse structs; D1 `INSERT OR REPLACE` on (ref_gene_id,
  * ref_taxon_id, comp_gene_id, comp_taxon_id) into the one table every
  * file loads into — last in (file, line) order wins, reverse copy
  * after its forward twin. Every file is read in one `lines` scan
  * ([[InputFiles.tabLines]]), whose `__file` and `__ord` give the order.
  */
object HomologsEtl {

  val requiredColumns: Seq[String] = Seq(
    "type", "taxonid1", "id1", "symbol1", "seqid1", "start1", "end1",
    "taxonid2", "id2", "symbol2", "seqid2", "start2", "end2")

  /** Counters are lazy — they each cost a Spark action (A4/V5 are
    * informational in the reference), so callers that only need the
    * table shouldn't pay for them.
    */
  final class Result(val homologs: DataFrame,
      numRecordsDf: => Long, unexpectedTypesDf: => Long) {
    lazy val numRecords: Long = numRecordsDf
    lazy val unexpectedTypes: Long = unexpectedTypesDf
  }

  /** The homolog table of `paths`, loaded in that order, from one scan. */
  def load(spark: SparkSession, paths: Seq[String]): Result = {
    // V3 — header-set validation (driver-side single line per file, no job).
    val headers = paths.map { path =>
      val headerLine = LineFileSource.firstLine(spark, path).getOrElse("")
      val header = headerLine.stripPrefix("##").split("\t").map(_.trim.toLowerCase).toSeq
      val missing = requiredColumns.filterNot(header.contains)
      require(missing.isEmpty, s"$path: missing homolog header column(s): " +
        missing.mkString(", "))
      header.filterNot(requiredColumns.contains)
        .foreach(c => System.err.println(s"[homologs] ignoring extra column $c"))
      headerLine
    }

    // Positional mapping of data rows to the 13 expected names.
    val lines = InputFiles.tabLines(spark, paths)
      .filter(col("value") =!= InputFiles.perFile(headers))
    val named = lines.select(col("*") +:
      requiredColumns.zipWithIndex.map { case (name, i) => trim(col("f")(i)).as(name) }: _*)

    def side(n: Int, prefix: String) = Seq(
      col(s"id$n").as(s"${prefix}_gene_id"),
      col(s"symbol$n").as(s"${prefix}_gene_sym"),
      col(s"taxonid$n").cast("int").as(s"${prefix}_taxon_id"),
      Gff3.chrStripAnchored(col(s"seqid$n")).as(s"${prefix}_seq_id"),
      col(s"start$n").cast("long").as(s"${prefix}_start"),
      col(s"end$n").cast("long").as(s"${prefix}_end"))

    val both = named.select(InputFiles.fileOrder :+ explode(array(
        struct(side(1, "ref") ++ side(2, "comp") :+ lit(0).as("__twin"): _*),
        struct(side(2, "ref") ++ side(1, "comp") :+ lit(1).as("__twin"): _*)))
      .as("__row"): _*)
      .select(InputFiles.fileOrder :+ col("__row.*"): _*)

    val deduped = Dedup.lastWins(both,
      keys = Seq("ref_gene_id", "ref_taxon_id", "comp_gene_id", "comp_taxon_id"),
      ord = InputFiles.fileOrder :+ col("__twin"),
      keep = both.columns.filterNot(Set(InputFiles.Column, InputFiles.Ordinal, "__twin")).toSeq)
    new Result(deduped,
      both.count(),
      named.filter(upper(trim(col("type"))) =!= "ORTHOLOGUE").count())
  }

  /** [[load]] of one file. */
  def load(spark: SparkSession, path: String): Result = load(spark, Seq(path))
}
