package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Gff3, InputFiles}

/** SNP-variant table from VCF (reference `import_variants.py:63-110`).
  *
  * The VCF body is read through the typed `vcf` DataSourceV2 source
  * (`VcfDataSource`: 8 fixed columns, POS Long, QUAL Double, `.` and
  * empty fields null, `#` comments, blank and short lines skipped);
  * the INFO column parses with `str_to_map` (VCF INFO keys are unique
  * per record).
  *
  * Semantics:
  *  - X3: one output row per gene in INFO `CG=g1,g2,…` (`:80-93`);
  *  - C7: ALT alleles slash-joined; a `.` ALT yields the empty string
  *    (PyVCF surfaces `[None]` and the reference's join produces "",
  *    `:86-90`), so the source's null ALT loads as "";
  *  - C1: replace-all chr strip on CHROM (`:84`);
  *  - AF/LT: first value of the (possibly multi-valued) INFO fields;
  *  - quality/frequency are Double (SURVEY.md §1.2 — the reference's
  *    INTEGER DDL receives floats);
  *  - `.` ID/QUAL → null.
  *
  * Every species file is read in one `vcf` scan; each row's taxon is
  * its file's.
  */
object VariantsEtl {

  /** The variant table of every species file, from one scan. */
  def load(spark: SparkSession, files: Seq[Pipeline.SpeciesFile]): DataFrame = {
    val raw = InputFiles.read(spark, "vcf", files.map(_.path))
    val info = str_to_map(col("info"), lit(";"), lit("="))
    raw
      .withColumn("__info", info)
      .withColumn("gene", explode(split(col("__info")("CG"), ",")))
      .select(
        Gff3.chrStripReplaceAll(col("chrom")).as("chr"),
        col("pos"),
        col("id"),
        col("ref").as("ref_base"),
        when(col("alt").isNull, lit(""))
          .otherwise(regexp_replace(col("alt"), ",", "/")).as("alt_allele"),
        col("qual").as("quality"),
        col("filter"),
        element_at(split(col("__info")("AF"), ","), 1).cast("double")
          .as("frequency"),
        col("gene"),
        element_at(split(col("__info")("LT"), ","), 1).as("trait_id"),
        InputFiles.perFile(files.map(_.taxonId)).as("taxon_id"))
  }

  /** [[load]] of one species file. */
  def load(spark: SparkSession, path: String, taxonId: Int): DataFrame =
    load(spark, Seq(Pipeline.SpeciesFile(path, taxonId)))
}
