package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.functions._

/** Which input file each row of a multi-file read came from, as the
  * file's index in the caller's list of inputs (SURVEY.md §3.1: one
  * load per table family reads every file of the family in one scan),
  * and where in its file the row sits: together the order the
  * reference's conflict rules read rows in (last wins for `homolog`,
  * `syntenic_block` and `gene_ontology_map`, first wins for `feature`).
  *
  * Both come from `_metadata`, a column the scan itself fills per row
  * ([[LineFileTable.FileMetadata]], through [[LineFileSource]]): it
  * survives a persisted relation and a shuffle, where
  * `input_file_name()` reads as empty, and it does not depend on how
  * Spark packs splits into partitions. Each input is qualified by its
  * file system and compared as a Hadoop `Path`, then keyed by the
  * string `_metadata.file_path` holds for it, so a relative path, a
  * space in a path and two files of one name in different directories
  * all map to their own input.
  */
object InputFiles {

  /** The index column's name. */
  val Column = "__file"

  /** The in-file ordinal column's name. */
  val Ordinal = "__ord"

  /** `_metadata.file_path` of the file at `path` as Spark's V1 file
    * sources fill it: the qualified path's URI, URL-encoded and without
    * the empty authority (`file:/a%20b`, where `input_file_name()`
    * gives `file:///a%20b`).
    */
  private[sources] def metadataPath(path: Path): String = new Path(path.toString).toUri.toString

  /** `paths`, in that order, read in one scan of the [[LineFileSource]]
    * named `format`, with `__file`, the index in `paths` of each row's
    * file, and `__ord`, the struct (`file_block_start`,
    * `block_row_index`) that orders the rows of one file. One path is
    * index 0 whatever it names (a file, a directory or a glob). Several
    * paths must each name one file, and no file twice (that fails on the
    * driver, naming the file); a row of any other file fails its job,
    * naming the file.
    */
  def read(spark: SparkSession, format: String, paths: Seq[String]): DataFrame = {
    def metadata(field: String) = col(s"${LineFileTable.FileMetadata.name}.$field")
    val index = if (paths.size == 1) lit(0) else {
      val conf = spark.sessionState.newHadoopConf()
      val inputs = paths.map { p => val path = new Path(p); path.getFileSystem(conf).makeQualified(path) }
      inputs.zip(paths).groupBy(_._1).collectFirst { case (_, named) if named.size > 1 =>
        throw new IllegalArgumentException(
          s"${named.head._2} is named ${named.size} times among the inputs ${paths.mkString(", ")}")
      }
      val file = metadata(FileFormat.FILE_PATH)
      coalesce(
        element_at(typedLit(inputs.map(metadataPath).zipWithIndex.toMap), file),
        raise_error(concat(lit("read "), file,
          lit(s", which is none of the input files ${paths.mkString(", ")}"))))
    }
    spark.read.format(format).load(paths: _*).withColumn(Column, index).withColumn(Ordinal,
      struct(metadata(FileFormat.FILE_BLOCK_START), metadata(LineFileTable.FileMetadata.BlockRowIndex)))
  }

  /** The `lines` of `paths` ([[read]]) that are not blank or space-only
    * (F3), each as `value` and its tab-separated fields `f`.
    */
  def tabLines(spark: SparkSession, paths: Seq[String]): DataFrame =
    read(spark, LinesFormat.name, paths).filter(length(trim(col("value"))) > 0)
      .withColumn("f", split(col("value"), "\t", -1))

  /** The columns that order the rows of a [[read]] as the
    * inputs list them: `__file`, then `__ord`.
    */
  def fileOrder: Seq[Column] = Seq(col(Column), col(Ordinal))

  /** `values(__file)`: the value given for each row's input file. */
  def perFile[A](values: Seq[A]): Column =
    element_at(array(values.map(lit): _*), col(Column) + 1)
}
