package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Gff3, InputFiles}

/** Cytogenetic-band table from GFF3 (reference
  * `import_cytogenetic_loc.py:60-92`).
  *
  * Fidelity: C1 replace-all chr strip on seq_id (`:79`); C11 the ONE
  * loader that corrects BCBio's 0-based start back to 1-based
  * (`start.position + 1`, `:82`) — i.e. the GFF3 start unchanged —
  * while genes/exons stay 0-based; attributes ID/source/Location/Color
  * taken as first values. Every species file is read in one `gff3`
  * scan; each row's taxon is its file's.
  */
object CytoBandEtl {

  /** The band table of every species file, from one scan. */
  def load(spark: SparkSession, files: Seq[Pipeline.SpeciesFile]): DataFrame = {
    val raw = Gff3.read(spark, files.map(_.path))
    raw.select(
      Gff3.attrFirst(col("attributes"), "ID").as("id"),
      InputFiles.perFile(files.map(_.taxonId)).as("taxon_id"),
      Gff3.chrStripReplaceAll(col("seqid")).as("chr"),
      Gff3.attrFirst(col("attributes"), "source").as("source"),
      col("type"),
      // BCBio start.position (= GFF3 start − 1) then +1 → GFF3 start.
      col("start"),
      col("end"),
      Gff3.attrFirst(col("attributes"), "Location").as("location"),
      Gff3.attrFirst(col("attributes"), "Color").as("color"))
  }

  /** [[load]] of one species file. */
  def load(spark: SparkSession, path: String, taxonId: Int): DataFrame =
    load(spark, Seq(Pipeline.SpeciesFile(path, taxonId)))
}
