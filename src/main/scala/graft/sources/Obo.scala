package graft.sources

import scala.collection.mutable
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.StructType

/** OBO ontology source (SURVEY.md §2.1 S6, §7.4): `[Term]`-delimited
  * multi-line stanzas, read as `spark.read.format("obo")` on the same
  * Spark file-source classes as the `gff3`/`vcf` sources (see
  * [[LineFileSource]]), so a multi-GB OBO fans out over Spark's
  * line-aligned byte-range splits and a gzip file is one split.
  * Ownership is per STANZA: a split owns a stanza iff it owns the
  * stanza's `[Term]` line (the first-byte-in-range rule Hadoop's
  * `LineRecordReader` uses for lines), and reads on past its range end
  * up to the next `[Term]`, so every stanza is parsed exactly once.
  *
  * Splitting is transparent to the stanza parser because every bit of
  * parser state is confined to the segment between consecutive
  * `[Term]` lines: a pending term flushes exactly when the next
  * `[Term]` opens (= the next split's first owned stanza) or at the end
  * of the split's lines, and intervening non-Term stanzas only stop
  * line processing within the segment.
  *
  * Faithful to the reference parser (`import_ontology.py:192-268`):
  *  - a pending term is flushed when the next `[Term]` opens, and once
  *    more at EOF;
  *  - `is_obsolete: true` discards the collected term and skips lines
  *    until the next `[Term]` — but `is_a` edges seen *before* that
  *    line are already recorded (module-global dict in the reference);
  *  - non-`[Term]` stanzas (`[Typedef]`…) stop line processing without
  *    flushing, so the pending term survives until the next `[Term]`;
  *  - `namespace`/`def` optional → null.
  */
object Obo {

  /** One parser output: a completed term or one is_a edge. */
  final case class OboEvent(
      kind: String, // "term" | "isa"
      id: String,
      name: Option[String],
      namespace: Option[String],
      definition: Option[String],
      parent: Option[String]) // isa: the more general term

  /** Pure stanza parser over the file's lines, in order. */
  def parseLines(lines: Iterator[String]): Iterator[OboEvent] = {
    val out = mutable.ArrayBuffer.empty[OboEvent]
    var inTerm = false
    var cur = mutable.Map.empty[String, String]

    def flush(): Unit = {
      if (cur.nonEmpty) {
        out += OboEvent("term", cur("id"), cur.get("name"),
          cur.get("namespace"), cur.get("def"), None)
      }
      cur = mutable.Map.empty
    }

    for (raw <- lines; line = raw.trim if line.nonEmpty) {
      if (line.startsWith("[") && !line.startsWith("[Term]")) inTerm = false
      if (line.startsWith("[Term]")) { flush(); inTerm = true }
      if (inTerm) {
        if (line.startsWith("id: ")) cur("id") = line.stripPrefix("id: ")
        if (line.startsWith("name: ")) cur("name") = line.stripPrefix("name: ")
        if (line.startsWith("namespace: "))
          cur("namespace") = line.stripPrefix("namespace: ")
        if (line.startsWith("def: ")) cur("def") = line.stripPrefix("def: ")
        if (line.startsWith("is_a: "))
          out += OboEvent("isa", cur.getOrElse("id",
            sys.error(s"is_a before id in stanza: $line")),
            None, None, None, Some(line.split("\\s+")(1)))
        if (line.startsWith("is_obsolete: ") &&
            line.split("\\s+")(1).equalsIgnoreCase("true")) {
          cur = mutable.Map.empty // discard the collected term
          inTerm = false // skip until next [Term]
        }
      }
    }
    flush() // last stanza (reference `import_ontology.py:258-268`)
    out.iterator
  }

  /** `spark.read.format("obo")` over `paths` as typed events, in one
    * scan: the stanzas of each split parse on the executors, and a
    * file's splits keep its order, so each file's events equal a
    * sequential parse of it.
    */
  def read(spark: SparkSession, paths: Seq[String]): Dataset[OboEvent] =
    spark.read.format("obo").load(paths: _*).as[OboEvent](Encoders.product[OboEvent])

  /** [[read]] of one file. */
  def read(spark: SparkSession, path: String): Dataset[OboEvent] = read(spark, Seq(path))

  private def isTermHeader(line: String) = line.trim.startsWith("[Term]")

  /** The event columns, and the lines of a split as the stanzas it
    * owns: its own lines, whose first `[Term]` opens its first stanza,
    * then the lines after it up to the next `[Term]`, which end its last
    * stanza. Lines before a split's first `[Term]` end the previous
    * split's last stanza, and `parseLines` ignores them. Every column is
    * a string, so no value fails to parse; a row's offset is its split's.
    */
  private[sources] object Format extends LineFormat {
    override val name = "obo"
    override lazy val schema: StructType = Encoders.product[OboEvent].schema
    override def rows(file: PartitionedFile, conf: Configuration): Iterator[(Long, Array[String])] = {
      val end = file.start + file.length
      def tail =
        if (end >= file.fileSize) Iterator.empty
        else LineFileSource.lines(file.toPath, end, file.fileSize - end, conf)
          .takeWhile(l => !isTermHeader(l._2))
      parseLines((LineFileSource.lines(file.toPath, file.start, file.length, conf) ++ tail)
        .map(_._2))
        .map(e => (file.start, Array(e.kind, e.id, e.name.orNull, e.namespace.orNull,
          e.definition.orNull, e.parent.orNull)))
    }
  }
}

/** `spark.read.format("obo")`: one row per [[Obo.OboEvent]]. */
class OboDataSource extends LineFileSource(Obo.Format)
