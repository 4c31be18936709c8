package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types._

/** The reference's tab-separated formats on Spark's file-source V2
  * classes: `spark.read.format("gff3")` and `spark.read.format("vcf")`
  * (SURVEY.md §2.1 S1/S2/S5; the shared part is [[LineFileSource]]),
  * and `spark.read.format("lines")` for the others ([[LinesFormat]]).
  *
  * One row per line, in fixed typed columns (positions Long, score/qual
  * Double, phase Int). `#` comment lines, whitespace-only lines and
  * lines with fewer fields than the schema are skipped; a `.` or empty
  * field is NULL. Column pruning reaches the parser (pruned fields are
  * never typed) and equality/IN filters on the string columns run
  * before a row is built; `.explain` shows both, as ReadSchema and
  * PushedFilters.
  *
  * Spark plans the splits as for its `text` source: an uncompressed
  * file is cut into line-aligned byte ranges (Hadoop `LineRecordReader`
  * ownership), sized by `spark.sql.files.maxPartitionBytes`,
  * `openCostInBytes` and `minPartitionNum`, so one multi-GB GFF3/VCF
  * fans out across the cluster; a gzip file (S8, reference
  * `flex_open.py:10-20`) is one split, decompressed by its codec.
  */
private[sources] case class TabFormat(name: String, schema: StructType) extends LineFormat {
  override def rows(file: PartitionedFile, conf: Configuration): Iterator[(Long, Array[String])] =
    LineFileSource.lines(file.toPath, file.start, file.length, conf)
      .filter { case (_, line) => !line.startsWith("#") && line.trim.nonEmpty }
      .map { case (offset, line) => (offset, line.split("\t", -1)) }
      .collect { case (offset, fields) if fields.length >= schema.size =>
        (offset, fields.map(f => if (f == "." || f.isEmpty) null else f))
      }
}

/** The homolog and block TSVs and GAF (SURVEY.md §2.1 S4/S5/S7), which
  * the reference reads with a line iterator: one string column
  * `value`, every line kept as it is, blank and comment lines included,
  * so each loader skips what the reference skips
  * ([[InputFiles.tabLines]]).
  */
private[sources] object LinesFormat extends LineFormat {
  override val name = "lines"
  override val schema: StructType = StructType(Seq(StructField("value", StringType)))
  override def rows(file: PartitionedFile, conf: Configuration): Iterator[(Long, Array[String])] =
    LineFileSource.lines(file.toPath, file.start, file.length, conf).map { case (o, l) => (o, Array(l)) }
}

/** `spark.read.format("lines")`: one row per line, as it is. */
class LinesDataSource extends LineFileSource(LinesFormat)

/** `spark.read.format("gff3")`: the 9 GFF3 columns. */
class Gff3DataSource extends LineFileSource(TabFormat("gff3", Gff3DataSource.schema))

object Gff3DataSource {
  val schema: StructType = StructType(Seq(
    StructField("seqid", StringType),
    StructField("source", StringType),
    StructField("type", StringType),
    StructField("start", LongType),
    StructField("end", LongType),
    StructField("score", DoubleType),
    StructField("strand", StringType),
    StructField("phase", IntegerType),
    StructField("attributes", StringType)))
}

/** `spark.read.format("vcf")`: the 8 fixed VCF body columns (INFO
  * stays a string — parse with `str_to_map` downstream, exactly as
  * `VariantsEtl` does).
  */
class VcfDataSource extends LineFileSource(TabFormat("vcf", VcfDataSource.schema))

object VcfDataSource {
  val schema: StructType = StructType(Seq(
    StructField("chrom", StringType),
    StructField("pos", LongType),
    StructField("id", StringType),
    StructField("ref", StringType),
    StructField("alt", StringType),
    StructField("qual", DoubleType),
    StructField("filter", StringType),
    StructField("info", StringType)))
}
