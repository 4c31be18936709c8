package graft.sources

import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** OBO ontology source (SURVEY.md §2.1 S6, §7.4): `[Term]`-delimited
  * multi-line stanzas. Stanzas span lines, so this is not a row-per-line
  * scan — the scan distributes on `LineFileProvider`'s byte-range
  * splits with STANZA-boundary ownership: a split owns a stanza iff it
  * owns the stanza's `[Term]` line (the same first-byte-in-range rule
  * Hadoop uses for lines), and a reader keeps consuming past its range
  * end until the next split's first `[Term]` so every stanza is parsed
  * exactly once. Real ontologies are ≤ tens of MB (one split), but a
  * multi-GB OBO fans out across the cluster instead of serializing
  * onto one core. Gzip files are unsplittable and read whole.
  *
  * Splitting is transparent to the stanza parser because every bit of
  * parser state is confined to the segment between consecutive
  * `[Term]` lines: a pending term flushes exactly when the next
  * `[Term]` opens (= the next split's first owned line) or at EOF, and
  * intervening non-Term stanzas only stop line processing within the
  * segment.
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

  /** The segment of lines a split owns: from its first owned `[Term]`
    * line through the line before the next split's first `[Term]`.
    * Ownership follows `LineFileReader`'s convention — seek to
    * `start`, discard the partial first line when `start > 0`, own
    * lines whose first byte is ≤ `end` — extended to stanzas via their
    * `[Term]` header line. Lazy: lines stream off the open file and
    * the handle closes at segment end.
    */
  private def stanzaLines(split: LineFilePartition,
      conf: org.apache.hadoop.conf.Configuration): Iterator[String] = {
    val hPath = new Path(split.path)
    val fs = hPath.getFileSystem(conf)
    val raw = fs.open(hPath)
    var pos = split.start
    val lr =
      if (split.path.endsWith(".gz")) {
        // unsplittable: planner guarantees start == 0, end == MaxValue
        new LineReader(new java.util.zip.GZIPInputStream(raw))
      } else {
        if (split.start > 0) raw.seek(split.start)
        val r = new LineReader(raw)
        if (split.start > 0) pos += r.readLine(new Text())
        r
      }
    val text = new Text()
    new Iterator[String] {
      private var collecting = false
      private var nextLine: String = null
      private var done = false

      private def isTermHeader(s: String) = s.trim.startsWith("[Term]")

      private def advance(): Unit = {
        while (nextLine == null && !done) {
          val lineStart = pos
          if (!collecting && lineStart > split.end) { finish(); return }
          val n = lr.readLine(text)
          if (n == 0) { finish(); return } // EOF
          pos += n
          val line = text.toString
          if (!collecting) {
            if (isTermHeader(line)) { collecting = true; nextLine = line }
          } else {
            if (isTermHeader(line) && lineStart > split.end) finish()
            else nextLine = line
          }
        }
      }

      private def finish(): Unit = { done = true; lr.close() }

      override def hasNext: Boolean = {
        if (nextLine == null && !done) advance()
        nextLine != null
      }
      override def next(): String = {
        if (!hasNext) throw new NoSuchElementException
        val l = nextLine; nextLine = null; l
      }
    }
  }

  /** Distributed stanza scan: plan the same line-aligned byte-range
    * splits as the GFF3/VCF sources, parse each split's owned stanzas
    * executor-side. Split order = byte order, so the event stream is
    * identical to a sequential parse of the whole file. The Hadoop
    * configuration reaches the tasks as one broadcast per read.
    *
    * @param maxSplitBytes override split size (default: the size
    *                      Spark's file sources pick, see
    *                      `LineFileProvider.resolveSplits`)
    */
  def read(spark: SparkSession, path: String,
      maxSplitBytes: Option[Long] = None): Dataset[OboEvent] = {
    import spark.implicits._
    val options = Map("path" -> path) ++
      maxSplitBytes.map(b => "maxsplitbytes" -> b.toString)
    val splits = LineFileProvider.resolveSplits(options,
      LineFileProvider.resolveFiles(options))
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val events = spark.sparkContext
      .parallelize(splits, math.max(splits.size, 1))
      .flatMap(sp => parseLines(stanzaLines(sp, conf.value.value)))
    spark.createDataset(events)
  }
}
