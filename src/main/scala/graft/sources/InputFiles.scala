package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Which input file each row of a multi-file read came from, as the
  * file's index in the caller's list of inputs (SURVEY.md §3.1: one
  * load per table family reads every file of the family in one scan).
  *
  * The index comes from `_metadata.file_path`, a column the scan itself
  * fills per file (Spark's V1 file sources, and the `gff3`/`vcf`/`obo`
  * sources through [[LineFileSource]]): it survives a persisted
  * relation and a shuffle, where `input_file_name()` reads as empty.
  * Each input is qualified by its file system and compared as a Hadoop
  * `Path`, then keyed by the string that column holds for it, so a
  * relative path, a space in a path and two files of one name in
  * different directories all map to their own input.
  */
object InputFiles {

  /** The index column's name. */
  val Column = "__file"

  /** `_metadata.file_path` of the file at `path` as Spark's V1 file
    * sources fill it: the qualified path's URI, URL-encoded and without
    * the empty authority (`file:/a%20b`, where `input_file_name()`
    * gives `file:///a%20b`).
    */
  private[sources] def metadataPath(path: Path): String = new Path(path.toString).toUri.toString

  /** `df`, a file read of `paths` in that order, with `__file`: the
    * index in `paths` of each row's file. One path is index 0 whatever
    * it names (a file, a directory or a glob). Several paths must each
    * name one file, and no file twice (that fails on the driver, naming
    * the file); a row of any other file fails its job, naming the file.
    */
  def indexed(df: DataFrame, paths: Seq[String]): DataFrame =
    if (paths.size == 1) df.withColumn(Column, lit(0))
    else {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val inputs = paths.map { p => val path = new Path(p); path.getFileSystem(conf).makeQualified(path) }
      inputs.zip(paths).groupBy(_._1).collectFirst { case (_, named) if named.size > 1 =>
        throw new IllegalArgumentException(
          s"${named.head._2} is named ${named.size} times among the inputs ${paths.mkString(", ")}")
      }
      val file = col(s"${LineFileTable.FileMetadata.name}.file_path")
      df.withColumn(Column, coalesce(
        element_at(typedLit(inputs.map(metadataPath).zipWithIndex.toMap), file),
        raise_error(concat(lit("read "), file,
          lit(s", which is none of the input files ${paths.mkString(", ")}")))))
    }

  /** `values(__file)`: the value given for each row's input file. */
  def perFile[A](values: Seq[A]): Column =
    element_at(array(values.map(lit): _*), col(Column) + 1)
}
