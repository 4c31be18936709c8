package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.V2ExpressionBuilder
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, Table}
import org.apache.spark.sql.connector.read.{PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriterFactory, PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** What a line-based format adds to Spark's file-source V2 classes: its
  * columns and how the lines of one split become rows. Everything else
  * is Spark's, as for its own `text` source: path and glob resolution
  * and listing (`FileTable`), split sizing and packing by
  * `spark.sql.files.maxPartitionBytes`, `openCostInBytes` and
  * `minPartitionNum`, the size estimate, unsplittable compressed files
  * (`TextBasedFileScan`), and the per-file reader loop that names the
  * file in a read error (`FilePartitionReaderFactory`). A read exposes
  * `_metadata` ([[LineFileTable.FileMetadata]]): each row's file, the
  * start of its split and its index among the split's rows, which
  * together order rows as their files hold them.
  */
private[sources] trait LineFormat extends Serializable {
  def name: String
  def schema: StructType

  /** The rows of one split, as string values in `schema` order (null is
    * SQL NULL), each with the byte offset of the line it came from.
    */
  def rows(file: PartitionedFile, conf: Configuration): Iterator[(Long, Array[String])]
}

/** `spark.read.format(format.name)`: a file source whose reads compare
  * by value, so a persisted read of a path serves a later read of it.
  */
abstract class LineFileSource(format: LineFormat) extends FileDataSourceV2 {
  override def shortName(): String = format.name
  override def fallbackFileFormat: Class[_ <: FileFormat] = classOf[NoV1Format]
  override protected def getTable(options: CaseInsensitiveStringMap): Table = {
    val paths = getPaths(options)
    LineFileTable(format, getTableName(options, paths), sparkSession,
      getOptionsWithoutPaths(options), paths)
  }
}

object LineFileSource {

  private def open(path: Path, start: Long, length: Long, conf: Configuration) = {
    val reader = new LineRecordReader()
    reader.initialize(new FileSplit(path, start, length, Array.empty[String]),
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    reader
  }

  /** The lines Hadoop's `LineRecordReader` gives the split
    * [`start`, `start + length`) of `path`, each with its byte offset:
    * those that start in (`start`, `start + length`], and the first line
    * when `start` is 0, decompressed by the file's codec. The file closes
    * after the last line or when the task ends.
    */
  private[sources] def lines(path: Path, start: Long, length: Long,
      conf: Configuration): Iterator[(Long, String)] = {
    val reader = open(path, start, length, conf)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => reader.close()))
    Iterator.continually(reader.nextKeyValue())
      .takeWhile { more => if (!more) reader.close(); more }
      .map(_ => (reader.getCurrentKey.get, reader.getCurrentValue.toString))
  }

  /** The first line of the file at `path`, decompressed by its codec.
    * It is read on the driver and starts no Spark job.
    */
  def firstLine(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val reader = open(p, 0, p.getFileSystem(conf).getFileStatus(p).getLen, conf)
    try Option.when(reader.nextKeyValue())(reader.getCurrentValue.toString)
    finally reader.close()
  }
}

/** The V1 side of the line formats, which Spark uses for catalog tables,
  * streaming reads and writes: it refuses, where a V1 text format would
  * read the file as something else.
  */
class NoV1Format extends FileFormat {
  private def refuse = throw new UnsupportedOperationException(
    "the gff3, vcf, obo and lines sources only read, through spark.read.format(...).load")
  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = refuse
  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = refuse
}

private[sources] case class LineFileTable(format: LineFormat, name: String,
    sparkSession: SparkSession, options: CaseInsensitiveStringMap, paths: Seq[String])
    extends FileTable(sparkSession, options, paths, None) with SupportsMetadataColumns {
  override def formatName: String = format.name
  override def inferSchema(files: Seq[FileStatus]): Option[StructType] = Some(format.schema)
  override def fallbackFileFormat: Class[_ <: FileFormat] = classOf[NoV1Format]
  override def metadataColumns(): Array[MetadataColumn] = Array(LineFileTable.FileMetadata)
  override def newScanBuilder(options: CaseInsensitiveStringMap): LineFileScanBuilder =
    LineFileScanBuilder(format, sparkSession, fileIndex, dataSchema, mergedOptions(options))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    throw new UnsupportedOperationException(s"$name is read-only")
}

private[sources] object LineFileTable {

  /** `_metadata` as Spark's V1 file sources name it: their `file_path`,
    * filled as they fill it ([[InputFiles.metadataPath]]), and
    * `file_block_start`, the byte where the row's split starts; then
    * `block_row_index`, the row's index among the rows its split
    * emits. Splits of one file never overlap and each reads its rows
    * in file order, so (`file_block_start`, `block_row_index`) orders
    * a file's rows for any split count and any splittable codec, where
    * a line's byte offset does not: Hadoop's bzip2 reader counts it
    * from the compressed start of the split's first block.
    */
  object FileMetadata extends MetadataColumn {
    val BlockRowIndex = "block_row_index"
    override def name: String = FileFormat.METADATA_NAME
    override def dataType: StructType = StructType(Seq(
      StructField(FileFormat.FILE_PATH, StringType, nullable = false),
      StructField(FileFormat.FILE_BLOCK_START, LongType, nullable = false),
      StructField(BlockRowIndex, LongType, nullable = false)))
    override def isNullable: Boolean = false
  }
}

private[sources] case class LineFileScanBuilder(format: LineFormat,
    sparkSession: SparkSession, fileIndex: PartitioningAwareFileIndex,
    dataSchema: StructType, options: CaseInsensitiveStringMap)
    extends FileScanBuilder(sparkSession, fileIndex, dataSchema) {

  /** `_metadata`, all of its fields, when the plan reads any, else empty. */
  private var metadataSchema = new StructType()

  override def pruneColumns(requiredSchema: StructType): Unit = {
    super.pruneColumns(requiredSchema)
    metadataSchema = StructType(requiredSchema.filter(_.name == FileFormat.METADATA_NAME)
      .map(_.copy(dataType = LineFileTable.FileMetadata.dataType)))
  }

  /** Equality and IN on string columns run in the reader, before a row
    * is built.
    */
  override protected def pushDataFilters(dataFilters: Array[Filter]): Array[Filter] = {
    val strings = dataSchema.fields.filter(_.dataType == StringType).map(_.name).toSet
    dataFilters.filter {
      case EqualTo(a, _: String) => strings(a)
      case In(a, vs) => strings(a) && vs.forall(_.isInstanceOf[String])
      case _ => false
    }
  }

  /** Spark's builder leaves every data filter to a Filter above the
    * scan; the ones the reader applies are dropped from it.
    */
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    super.pushFilters(filters).filterNot(e =>
      new V2ExpressionBuilder(e, true).buildPredicate().exists(p => pushedFilters.contains(p)))

  override def build(): Scan = LineFileScan(format, sparkSession, fileIndex, dataSchema,
    readDataSchema(), readPartitionSchema(), metadataSchema, options, pushedDataFilters,
    partitionFilters, dataFilters)
}

private[sources] case class LineFileScan(format: LineFormat, sparkSession: SparkSession,
    fileIndex: PartitioningAwareFileIndex, dataSchema: StructType,
    readDataSchema: StructType, readPartitionSchema: StructType,
    readMetadataSchema: StructType, options: CaseInsensitiveStringMap,
    pushedFilters: Array[Filter], partitionFilters: Seq[Expression],
    dataFilters: Seq[Expression])
    extends TextBasedFileScan(sparkSession, options) {

  /** The data and partition columns, then `_metadata` when it is read. */
  override def readSchema(): StructType =
    StructType(super.readSchema().fields ++ readMetadataSchema.fields)

  override def createReaderFactory(): PartitionReaderFactory = {
    val caseSensitive = options.asCaseSensitiveMap.asScala.toMap
    LineFileReaderFactory(format, sparkSession.sparkContext.broadcast(new SerializableConfiguration(
        sparkSession.sessionState.newHadoopConfWithOptions(caseSensitive))),
      readDataSchema, readPartitionSchema, readMetadataSchema, pushedFilters,
      new FileSourceOptions(caseSensitive))
  }

  /** Names the format, and the filters the reader applies rather than
    * the data filters: those it does not apply run in a Filter above
    * the scan.
    */
  override def getMetaData(): Map[String, String] = super.getMetaData() - "DataFilters" ++
    Map("Format" -> format.name, "PushedFilters" -> seqToString(pushedFilters.toSeq))

  override def equals(o: Any): Boolean = o match {
    case s: LineFileScan => super.equals(s) && format == s.format
    case _ => false
  }
}

/** Keeps the rows that pass the pushed filters and types the read
  * columns, then appends the partition values and the read `_metadata`
  * fields; a value that does not parse names its line's byte offset,
  * its column and itself (Spark's reader loop adds the file). A row's
  * `block_row_index` counts every row the format gives the split,
  * filtered or not.
  */
private[sources] case class LineFileReaderFactory(format: LineFormat,
    conf: Broadcast[SerializableConfiguration], readDataSchema: StructType,
    partitionSchema: StructType, metadataSchema: StructType, filters: Array[Filter],
    options: FileSourceOptions)
    extends FilePartitionReaderFactory {

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] = {
    val index = format.schema.fieldNames.zipWithIndex.toMap
    val read = readDataSchema.fields.map(f => (index(f.name), f))
    def passes(values: Array[String]) = filters.forall {
      case EqualTo(a, v) => values(index(a)) == v
      case In(a, vs) => vs.contains(values(index(a)))
      case _ => true
    }
    def typed(offset: Long, v: String, f: StructField): Any =
      try {
        if (v == null) null
        else f.dataType match {
          case LongType => v.toLong
          case DoubleType => v.toDouble
          case IntegerType => v.toInt
          case _ => UTF8String.fromString(v)
        }
      } catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"line at byte $offset: ${f.name} '$v' is not a ${f.dataType.simpleString}", e)
      }
    val path = UTF8String.fromString(InputFiles.metadataPath(file.toPath))
    val partitionValues = file.partitionValues.toSeq(partitionSchema)
    val project = UnsafeProjection.create(StructType(readDataSchema ++ partitionSchema ++ metadataSchema))
    val rows = format.rows(file, conf.value.value).zip(Iterator.iterate(0L)(_ + 1)).collect {
      case ((offset, values), index) if passes(values) => project(new GenericInternalRow(
        read.map { case (i, f) => typed(offset, values(i), f) } ++ partitionValues ++
          metadataSchema.map(_ => InternalRow(path, file.start, index)))): InternalRow
    }
    new PartitionReaderFromIterator(rows)
  }
}
