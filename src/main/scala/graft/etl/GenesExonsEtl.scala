package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.{Gff3, InputFiles}

/** Genes + exons from GFF3 (reference `import_genes_exons.py:80-139`).
  *
  * The reference parses nested BCBio records (gene → `sub_features`
  * exons); here the flat GFF3 rows are split relationally: top-level
  * rows (no `Parent` attribute) are genes, `Parent`-bearing rows are
  * exons, and the exon's `parent_gene` (the gene's Dbxref id) comes
  * from an equi-join on (file, exon.Parent = gene.ID) — an exon links
  * only to a gene of its own file; broadcastable when the gene side is
  * dimension-sized, a plain hash join otherwise. Every species file is
  * read in one `gff3` scan; each row's taxon is its file's.
  *
  * Fidelity (SURVEY.md §7.6):
  *  - F7: genes without `Dbxref` are skipped (with a counter), not
  *    errors (`:108-113`);
  *  - C11: starts stay 0-based (BCBio `.position` stored uncorrected,
  *    `:118,128`) — i.e. GFF3 start − 1;
  *  - C12: strand stored as "1"/"-1" text (BCBio int into TEXT,
  *    `:119`);
  *  - C1: replace-all `chr` strip on seq_id (`:115`);
  *  - gene_id/symbol take the *first* comma-separated attribute value
  *    (BCBio qualifier lists, `[0]`);
  *  - D2: any duplicate (gene_id, taxonid, chr) or (exon_id, taxonid,
  *    chr) aborts the load (`:120-126,130-136`), within one file or
  *    across two files of one taxon (the reference loads every file
  *    into one table), and names the key.
  */
object GenesExonsEtl {

  /** `skippedNoDbxref` is lazy — it is a warning counter in the
    * reference (F7) and costs an extra action.
    */
  final class Result(val genes: DataFrame, val exons: DataFrame,
      skipped: => Long) {
    lazy val skippedNoDbxref: Long = skipped
  }

  /** The gene and exon tables of every species file, from one scan. */
  def load(spark: SparkSession, files: Seq[Pipeline.SpeciesFile]): Result = {
    val raw = Gff3.read(spark, files.map(_.path))
    val taxon = InputFiles.perFile(files.map(_.taxonId))
    val withParent = raw.withColumn("__parent", Gff3.attr(col("attributes"), "Parent"))

    val geneRows = withParent.filter(col("__parent").isNull)
      .withColumn("__dbxref", Gff3.attrFirst(col("attributes"), "Dbxref"))

    val genes = geneRows
      .filter(col("__dbxref").isNotNull)
      .select(
        col("__dbxref").as("gene_id"),
        taxon.as("gene_taxonid"),
        Gff3.attrFirst(col("attributes"), "Symbol").as("gene_symbol"),
        Gff3.chrStripReplaceAll(col("seqid")).as("gene_chr"),
        (col("start") - 1).as("gene_start_pos"),
        col("end").as("gene_end_pos"),
        when(col("strand") === "+", "1")
          .when(col("strand") === "-", "-1").as("gene_strand"),
        col("type").as("gene_type"),
        Gff3.attrFirst(col("attributes"), "Name").as("gene_name"))

    val exonSide = withParent.filter(col("__parent").isNotNull)
      .select(
        Gff3.attr(col("attributes"), "ID").as("exon_id"),
        col("__parent"),
        col(InputFiles.Column),
        taxon.as("taxonid"),
        Gff3.chrStripReplaceAll(col("seqid")).as("exon_chr"),
        (col("start") - 1).as("exon_start_pos"),
        col("end").as("exon_end_pos"))
    val geneIds = geneRows.filter(col("__dbxref").isNotNull)
      .select(Gff3.attr(col("attributes"), "ID").as("__gene_row_id"),
        col(InputFiles.Column).as("__gene_file"),
        col("__dbxref").as("parent_gene"))
    val exons = exonSide
      .join(geneIds, exonSide(InputFiles.Column) === geneIds("__gene_file") &&
        exonSide("__parent") === geneIds("__gene_row_id"))
      .select(col("exon_id"), col("parent_gene"), col("taxonid"),
        col("exon_chr"), col("exon_start_pos"), col("exon_end_pos"))

    new Result(
      Dedup.assertNoDuplicateKeys(genes, Seq("gene_id", "gene_taxonid", "gene_chr")),
      Dedup.assertNoDuplicateKeys(exons, Seq("exon_id", "taxonid", "exon_chr")),
      geneRows.filter(col("__dbxref").isNull).count())
  }

  /** [[load]] of one species file. */
  def load(spark: SparkSession, path: String, taxonId: Int): Result =
    load(spark, Seq(Pipeline.SpeciesFile(path, taxonId)))
}
