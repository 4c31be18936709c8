package graft.sources

import java.util
import scala.collection.JavaConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 connectors for the reference's line-based formats:
  * `spark.read.format("gff3")` and `spark.read.format("vcf")`
  * (SURVEY.md §2.1 S1/S2/S5).
  *
  * Typed fixed schemas (positions Long, score/qual Double),
  * comment-prefix and blank-line skip, `.`→NULL, gzip-transparent per
  * file (reference `flex_open.py:10-20`, S8). Column pruning and
  * equality/IN filter pushdown on the string columns reach the parser
  * (pruned fields are never materialized; filtered rows never build an
  * InternalRow) — `.explain` shows the pruned ReadSchema and
  * PushedFilters like any native source. Shared scan machinery in
  * `LineFileSource`.
  *
  * Partitioning: uncompressed files are split into line-aligned byte
  * ranges sized as Spark's file sources size theirs (override per read
  * with option `maxSplitBytes`), so one multi-GB GFF3/VCF fans out
  * across the cluster instead of serializing onto a single core;
  * gzip files are unsplittable and plan as one partition each. The
  * driver's full Hadoop configuration (incl. `spark.hadoop.*` object-
  * store credentials) reaches executor readers as one broadcast per
  * scan, not a copy inside every task.
  */
abstract class LineFileProvider extends TableProvider {
  def formatName: String
  def formatSchema: StructType
  def commentPrefix: Char

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    formatSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LineFileTable(this, properties.asScala.toMap)
}

/** Two reads of one path with one format and options are one table, so
  * their plans compare equal and a persisted read serves the other.
  */
private class LineFileTable(private val fmt: LineFileProvider,
    private val options: Map[String, String]) extends Table with SupportsRead {
  override def equals(o: Any): Boolean = o match {
    case t: LineFileTable => t.fmt.getClass == fmt.getClass && t.options == options
    case _ => false
  }
  override def hashCode(): Int = (fmt.getClass, options).hashCode
  override def name(): String =
    s"${fmt.formatName}(${options.getOrElse("path", "?")})"
  override def schema(): StructType = fmt.formatSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new LineFileScanBuilder(fmt, options)
}

private class LineFileScanBuilder(fmt: LineFileProvider, options: Map[String, String])
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = fmt.formatSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept equality/IN on the directly-parsed string columns; Spark
    * re-evaluates everything left in the returned (unsupported) array,
    * so pushing is purely an optimization.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = LineFileSource.splitFilters(filters, fmt.formatSchema)
    pushed = sup
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val files = LineFileProvider.resolveFiles(options)
    new LineFileScan(LineFileProvider.resolveSplits(options, files),
      files.map(_._2).filter(_ > 0).sum, SparkSession.active,
      fmt.formatSchema, required, pushed, fmt.commentPrefix, fmt.formatName)
  }
}

object LineFileProvider {

  /** `paths` arrives as a JSON array string when the load came from
    * `DataFrameReader.load(p1, p2, ...)` (that is how Spark encodes
    * multi-path loads in DSv2 options); accept that, a bare path, or
    * a comma-separated list. A leading '[' is only treated as JSON if
    * it actually parses as a JSON array — a Hadoop glob starting with
    * a character class (`[ab]*.gff3`) falls through to the path
    * interpretation instead of throwing.
    */
  private[sources] def parsePathsOption(raw: String): Seq[String] = {
    val t = raw.trim
    val asJsonArray: Option[Seq[String]] =
      if (t.startsWith("[") && t.endsWith("]")) {
        try {
          val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
          if (node.isArray) Some((0 until node.size()).map(node.get(_).asText()))
          else None
        } catch { case _: Exception => None }
      } else None
    asJsonArray.getOrElse(t.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
  }

  private[sources] def resolvePaths(rawOptions: Map[String, String]): Seq[String] = {
    val spark = SparkSession.active
    val options = rawOptions.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val raw = options.get("path").toSeq ++
      options.get("paths").toSeq.flatMap(parsePathsOption)
    raw.flatMap { p =>
      val hPath = new Path(p)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stats = fs.globStatus(hPath)
      if (stats == null || stats.isEmpty) Seq(p)
      else stats.toSeq.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq
          .filter(_.isFile).map(_.getPath.toString)
        else Seq(st.getPath.toString)
      }
    }
  }

  /** Every input file with its byte length (-1 when it cannot be read). */
  private[sources] def resolveFiles(options: Map[String, String]): Seq[(String, Long)] = {
    val hadoopConf = SparkSession.active.sparkContext.hadoopConfiguration
    resolvePaths(options).map { p =>
      val hPath = new Path(p)
      val fs = hPath.getFileSystem(hadoopConf)
      p -> (try fs.getFileStatus(hPath).getLen catch { case _: Exception => -1L })
    }
  }

  /** Plan line-aligned byte-range splits of `files`: uncompressed files
    * cut at `maxSplitBytes` boundaries (the reader re-aligns to line
    * starts), gzip files whole. Without the option the split size is
    * the one Spark's file sources pick (`FilePartition.maxSplitBytes`):
    * the input spread over the cores, at least
    * `spark.sql.files.openCostInBytes`, at most
    * `spark.sql.files.maxPartitionBytes` — so a mid-size file parses on
    * every core, not in one 128 MB split.
    */
  private[sources] def resolveSplits(rawOptions: Map[String, String],
      files: Seq[(String, Long)]): Seq[LineFilePartition] = {
    val options = rawOptions.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val splitBytes = options.get("maxsplitbytes").map(_.toLong).getOrElse {
      val spark = SparkSession.active
      val conf = spark.sessionState.conf
      val cores = conf.filesMinPartitionNum.getOrElse(spark.sparkContext.defaultParallelism)
      val bytesPerCore = files.map(_._2.max(0L) + conf.filesOpenCostInBytes).sum / cores
      math.min(conf.filesMaxPartitionBytes, math.max(conf.filesOpenCostInBytes, bytesPerCore))
    }
    require(splitBytes > 0, s"maxSplitBytes must be positive, got $splitBytes")
    files.flatMap { case (p, size) =>
      if (p.endsWith(".gz") || size <= 0)
        Seq(LineFilePartition(p, 0L, Long.MaxValue))
      else
        (0L until size by splitBytes).map { start =>
          LineFilePartition(p, start, math.min(start + splitBytes, size))
        }
    }
  }
}

/** `spark.read.format("gff3")`: the 9 GFF3 columns. */
class Gff3DataSource extends LineFileProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "gff3"
  override def formatName: String = "gff3"
  override def commentPrefix: Char = '#'
  override def formatSchema: StructType = Gff3DataSource.schema
}

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
class VcfDataSource extends LineFileProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "vcf"
  override def formatName: String = "vcf"
  override def commentPrefix: Char = '#'
  override def formatSchema: StructType = VcfDataSource.schema
}

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
