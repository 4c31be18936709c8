package graft.sources

import java.util.OptionalLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Shared scan machinery for the tab-separated genomics formats
  * (GFF3, VCF): line-aligned byte-range input splits, comment/blank
  * skip, `.`→NULL, gzip transparency by suffix, schema-driven typed
  * projection with column pruning, and equality/IN row filters applied
  * before any InternalRow is allocated.
  *
  * Splitting follows Hadoop LineRecordReader semantics: a split
  * `[start, end)` owns every line whose first byte is in `(start,
  * end]` (plus the line at byte 0 for the first split) — a reader with
  * `start > 0` seeks and discards the partial first line, and every
  * reader consumes one line past `end`, so each line is parsed exactly
  * once across splits. Gzip files are not splittable and plan as one
  * split. This is what keeps a single multi-GB uncompressed GFF3/VCF
  * from serializing onto one core.
  */
private[sources] object LineFileSource {

  /** Filters acceptable for pre-projection evaluation: equality/IN on
    * string columns of the format schema.
    */
  def splitFilters(filters: Array[Filter], schema: StructType): (Array[Filter], Array[Filter]) = {
    val stringCols = schema.fields
      .filter(_.dataType == StringType).map(_.name).toSet
    filters.partition {
      case EqualTo(a, _: String) => stringCols(a)
      case In(a, vs) => stringCols(a) && vs.forall(_.isInstanceOf[String])
      case _ => false
    }
  }
}

/** One scan of the input files. The driver's Hadoop configuration
  * (including `spark.hadoop.*` filesystem credentials) reaches the
  * executor readers as one broadcast per reader factory, as Spark's own
  * file scans do, rather than inside every task. The size estimate is
  * the input's byte length scaled to the read columns, as for Spark's
  * file scans, so joins above the scan plan as they would over a
  * built-in file source.
  */
private[sources] class LineFileScan(
    splits: Seq[LineFilePartition],
    inputBytes: Long,
    spark: SparkSession,
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter],
    commentPrefix: Char,
    formatName: String) extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def estimateStatistics(): Statistics = {
    val factor = spark.sessionState.conf.fileCompressionFactor
    val size = (factor * inputBytes / fullSchema.defaultSize * required.defaultSize).toLong
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(size)
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
  }
  override def description(): String =
    s"$formatName PushedFilters: ${filters.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${required.catalogString}"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    splits.map(p => p: InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new LineFileReaderFactory(
      spark.sparkContext.broadcast(
        new SerializableConfiguration(spark.sessionState.newHadoopConf())),
      fullSchema, required, filters, commentPrefix)
}

/** One line-aligned byte range of one file; `end == Long.MaxValue`
  * means "whole file" (unsplittable / compressed).
  */
private[sources] case class LineFilePartition(path: String, start: Long, end: Long)
    extends InputPartition

private[sources] class LineFileReaderFactory(
    conf: Broadcast[SerializableConfiguration],
    fullSchema: StructType, required: StructType,
    filters: Array[Filter], commentPrefix: Char)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new LineFileReader(partition.asInstanceOf[LineFilePartition],
      conf.value.value, fullSchema, required, filters, commentPrefix)
}

private[sources] class LineFileReader(
    split: LineFilePartition, conf: Configuration,
    fullSchema: StructType, required: StructType,
    filters: Array[Filter], commentPrefix: Char)
    extends PartitionReader[InternalRow] {

  private val gzipped = split.path.endsWith(".gz")
  private var pos: Long = split.start
  private val lineReader: LineReader = {
    val hPath = new Path(split.path)
    val fs = hPath.getFileSystem(conf)
    val raw = fs.open(hPath)
    if (gzipped) {
      // not splittable: planner guarantees start == 0, end == MaxValue
      new LineReader(new java.util.zip.GZIPInputStream(raw))
    } else {
      if (split.start > 0) raw.seek(split.start)
      val lr = new LineReader(raw)
      // discard the partial line the previous split owns
      if (split.start > 0) pos += lr.readLine(new Text())
      lr
    }
  }
  private val text = new Text()

  private val colIndex: Map[String, Int] =
    fullSchema.fieldNames.zipWithIndex.toMap
  private val outIndexes: Array[Int] = required.fieldNames.map(colIndex)
  private val outTypes: Array[DataType] =
    required.fieldNames.map(n => fullSchema(n).dataType)

  private def rowPasses(cols: Array[String]): Boolean =
    filters.forall {
      case EqualTo(a, v: String) => cols(colIndex(a)) == v
      case In(a, vs) => vs.exists(_ == cols(colIndex(a)))
      case _ => true
    }

  private var current: InternalRow = _

  override def next(): Boolean = {
    // read lines while the line START is within (start, end]
    while (pos <= split.end) {
      val consumed = lineReader.readLine(text)
      if (consumed == 0) return false // EOF
      pos += consumed
      val line = text.toString
      if (line.nonEmpty && line.charAt(0) != commentPrefix && line.trim.nonEmpty) {
        val cols = line.split("\t", -1)
        if (cols.length >= fullSchema.size && rowPasses(cols)) {
          current = project(cols)
          return true
        }
      }
    }
    false
  }

  private def project(cols: Array[String]): InternalRow = {
    val row = new GenericInternalRow(outIndexes.length)
    var i = 0
    while (i < outIndexes.length) {
      val v = cols(outIndexes(i))
      if (v == "." || v.isEmpty) row.setNullAt(i)
      else outTypes(i) match {
        case LongType => row.setLong(i, v.toLong)
        case DoubleType => row.setDouble(i, v.toDouble)
        case IntegerType => row.setInt(i, v.toInt)
        case _ => row.update(i, UTF8String.fromString(v))
      }
      i += 1
    }
    row
  }

  override def get(): InternalRow = current
  override def close(): Unit = lineReader.close()
}
