package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.EtlOptions
import graft.operators.Dedup
import graft.sources.{Gff3, InputFiles}

/** Feature/QTL table from hand-rolled GFF3 (reference
  * `import_features.py:62-211`).
  *
  * Fidelity (SURVEY.md §7.6):
  *  - V4: `gff-version 3` pragma required on line 1 (`:72-76`);
  *  - F4: the 36-entry type blacklist *including* the reference's
  *    string-concat bug — `'mRNA' 'exon'` concatenates to one entry
  *    `'mRNAexon'` (`:135-136`), so `mRNA` and `exon` rows pass the
  *    filter by default; `EtlOptions.fixBlacklist` restores the
  *    evident intent;
  *  - C2: anchored case-insensitive chr strip (`:167-168`);
  *  - C5: attributes split on `;` / `=` with trimming; `Alias` values
  *    are collected-then-dropped in the reference (`:181-182`) — dead
  *    code, not stored here either;
  *  - C6: `.` → null applied to every stored column (`:187-191`): the
  *    source nulls the 8 fixed columns, the stripped seq_id and the
  *    attribute values are nulled here;
  *  - D3: duplicate PK (source, taxon_id, id, dbxref) keeps the first
  *    row in file order and continues (`:203-211`); across two files of
  *    one taxon the earlier file's row is first. The order is the
  *    scan's own (`Gff3.read`'s `__file` and `__ord`).
  *
  * Every species file is read in one `gff3` scan; each row's taxon is
  * its file's.
  */
object FeaturesEtl {

  private val baseBlacklist = Set(
    "CDS", "C_gene_segment", "D_gene_segment", "D_loop", "J_gene_segment",
    "V_gene_segment", "enhancer", "match", "match-part", "ncRNA",
    "origin_of_replication", "pseudogenic_CDS", "pseudogenic_C_gene_segment",
    "pseudogenic_D_gene_segment", "pseudogenic_J_gene_segment",
    "pseudogenic_V_gene_segment", "pseudogenic_start_codon",
    "pseudogenic_stop_codon", "pseudogenic_three_prime_UTR",
    "sequence_alteration", "sequence_feature", "start_codon", "stop_codon")

  private val notCurrentlyUsedBuggy = Set(
    "miRNA_Cluster", "mRNAexon", // the reference's missing-comma concat
    "pseudogene", "pseudogenic_transcript", "pseudogenic_exon", "transcript",
    "five_prime_UTR", "three_prime_UTR", "primary_transcript", "tRNA",
    "pseudogenic_mRNA", "pseudogenic_five_prime_UTR", "rRNA")

  private val notCurrentlyUsedFixed =
    notCurrentlyUsedBuggy - "mRNAexon" ++ Set("mRNA", "exon")

  def blacklist(opts: EtlOptions): Set[String] =
    baseBlacklist ++ (if (opts.fixBlacklist) notCurrentlyUsedFixed
                      else notCurrentlyUsedBuggy)

  /** The feature table of every species file, from one scan. */
  def load(spark: SparkSession, files: Seq[Pipeline.SpeciesFile],
      opts: EtlOptions): DataFrame = {
    files.foreach(f => Gff3.assertVersionPragma(spark, f.path))
    // a `.` type is null in the source and is not blacklisted
    val raw = Gff3.read(spark, files.map(_.path))
      .filter(col("type").isNull ||
        !col("type").isin(blacklist(opts).toSeq.map(x => x: Any): _*))

    def a(name: String) = Gff3.dotToNull(Gff3.attr(col("attributes"), name))
    val projected = raw.select(
      InputFiles.perFile(files.map(_.taxonId)).as("taxon_id"),
      Gff3.dotToNull(Gff3.chrStripAnchored(col("seqid"))).as("seq_id"),
      col("source"), col("type"), col("start"), col("end"), col("score"),
      col("strand"), col("phase"),
      a("ID").as("id"),
      a("Name").as("name"),
      a("Dbxref").as("dbxref"),
      a("bioType").as("bio_type"),
      a("Status").as("status"),
      a("Parent").as("parent"),
      col(InputFiles.Column),
      col(InputFiles.Ordinal))

    Dedup.keepFirst(projected,
      keys = Seq("source", "taxon_id", "id", "dbxref"),
      ord = InputFiles.fileOrder,
      keep = projected.columns.filterNot(Set(InputFiles.Column, InputFiles.Ordinal)).toSeq)
  }

  /** [[load]] of one species file. */
  def load(spark: SparkSession, path: String, taxonId: Int,
      opts: EtlOptions = EtlOptions()): DataFrame =
    load(spark, Seq(Pipeline.SpeciesFile(path, taxonId)), opts)
}
