package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GFF3 loading helpers (SURVEY.md §2.1 S1/S2): the scan is the typed
  * `gff3` file source (`Gff3DataSource` on Spark's file-source V2
  * classes: 9 columns, positions Long, score Double, phase Int,
  * `.`/empty → null, `#` comments, blank and short lines skipped,
  * decompressed by codec, which covers the reference's `flex_open`, S8,
  * `flex_open.py:10-20`). Attribute access and gene↔exon nesting are
  * rebuilt relationally (`Parent`/`ID` self-join) instead of via a
  * nested parser.
  */
object Gff3 {

  /** The `gff3` source's typed columns, one row per feature line, plus
    * `__file`, the index in `paths` of the row's file, and `__ord`, the
    * row's place in its file, both filled by the scan
    * ([[InputFiles.read]]): together they order rows for
    * order-sensitive downstream dedup ([[InputFiles.fileOrder]]).
    */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    InputFiles.read(spark, "gff3", paths)

  /** [[read]] of one file, its rows all `__file` 0. */
  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

  /** V4 — `##gff-version 3` pragma check on the first line (reference
    * `import_features.py:72-76`), read on the driver without a job.
    */
  def assertVersionPragma(spark: SparkSession, path: String): Unit = {
    val first = LineFileSource.firstLine(spark, path)
    require(first.exists(_.trim.endsWith("gff-version 3")),
      s"$path: expected first line to end with 'gff-version 3'")
  }

  /** C5 — extract one attribute from the `;`-separated, `=`-split,
    * whitespace-trimmed GFF3 attributes column. Repeated keys: last
    * occurrence wins (dict-overwrite semantics of the reference,
    * `import_features.py:176-185`). Missing → null.
    */
  def attr(attributes: Column, name: String): Column = {
    val hits = filter(split(attributes, ";"),
      a => trim(element_at(split(a, "="), 1)) === name)
    when(size(hits) > 0,
      trim(element_at(split(element_at(hits, -1), "="), 2)))
  }

  /** First value of a comma-separated multi-valued attribute (BCBio
    * surfaces qualifiers as lists; the reference takes `[0]`).
    */
  def attrFirst(attributes: Column, name: String): Column =
    element_at(split(attr(attributes, name), ","), 1)

  /** C1 — replace-all, case-sensitive `chr` strip (reference
    * `import_genes_exons.py:115`, `import_variants.py:84`).
    */
  def chrStripReplaceAll(c: Column): Column = regexp_replace(c, "chr", "")

  /** C2 — anchored, case-insensitive `chr` strip (reference
    * `import_features.py:167-168`, `import_homologs.py:124-127`).
    * Two deliberately different semantics — both preserved.
    */
  def chrStripAnchored(c: Column): Column = regexp_replace(c, "(?i)^chr", "")

  /** C6 — GFF3 `.` placeholder → null. */
  def dotToNull(c: Column): Column = nullif(c, lit("."))
}
