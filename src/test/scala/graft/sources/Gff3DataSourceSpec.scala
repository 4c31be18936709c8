package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The gff3 file source: typed read, results identical to an
  * independent csv-based reference reader, column pruning and filter
  * pushdown visible in the plan, Spark's split sizing and path
  * handling, gzip transparency, cache reuse across reads, a reader
  * factory that carries no Hadoop configuration, a read error that
  * names the bad value, and no V1 fallback.
  */
class Gff3DataSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val fx = "/root/repo/src/test/resources/fixtures"

  /** Reference parser for the comparisons: Spark's csv reader over the
    * tab-separated body, every column a string, `#` lines skipped.
    */
  private def csvRead(path: String, columns: String*): DataFrame =
    spark.read.option("sep", "\t").option("comment", "#")
      .schema(StructType(columns.map(StructField(_, StringType)))).csv(path)

  test("reads typed rows matching the csv-based reader") {
    val v2 = spark.read.format("gff3").load(s"$fx/genes_human.gff3")
    assert(v2.schema == Gff3DataSource.schema)
    val viaCsv = csvRead(s"$fx/genes_human.gff3", "seq_id", "source", "type",
        "start", "end", "score", "strand", "phase", "attributes")
      .select(col("seq_id"), col("start").cast("long"), col("attributes"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val viaV2 = v2.select("seqid", "start", "attributes")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(viaV2 == viaCsv && viaV2.nonEmpty)
  }

  test("prunes columns and pushes string equality filters") {
    val df = spark.read.format("gff3").load(s"$fx/features_rat.gff3")
      .filter(col("type") === "QTL")
      .select("seqid", "type")
    // the equality predicate is consumed by the source: no
    // `type = QTL` Filter remains in the physical plan (only the
    // residual null check Spark always keeps)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("= QTL"), plan.take(600))
    // pruned read schema: only the two selected columns reach the scan
    assert(plan.contains("[seqid#") && plan.contains("type#") &&
      !plan.contains("attributes#"), plan.take(600))
    assert(df.count() > 0)
    // every surviving row satisfies the pushed predicate
    assert(df.collect().forall(_.getString(1) == "QTL"))
  }

  test("vcf source reads typed rows matching the csv-based VariantsEtl input") {
    val v2 = spark.read.format("vcf").load(s"$fx/variants_human.vcf")
    assert(v2.schema == VcfDataSource.schema)
    val rows = v2.select("chrom", "pos", "qual", "info")
      .collect()
    assert(rows.nonEmpty)
    // typed columns parse; '.' → null propagated
    assert(rows.forall(_.getLong(1) > 0))
    // the distinct position set must be identical between the source
    // and the csv reference parser
    val viaCsv = csvRead(s"$fx/variants_human.vcf",
        "chrom", "pos", "id", "ref", "alt", "qual", "filter", "info")
      .select(col("pos").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    val viaV2 = v2.select("pos").distinct().collect().map(_.getLong(0)).toSet
    assert(viaV2 == viaCsv && viaV2.nonEmpty)
  }

  test("byte-range splits: one large file fans out to many partitions with identical rows") {
    import java.nio.file.{Files, Paths}
    // build a "large" file: the fixture body repeated 200× (~ hundreds
    // of KB), then read with a 4 KiB split size to force many ranges
    val base = new String(
      Files.readAllBytes(Paths.get(s"$fx/genes_human.gff3")), "UTF-8")
    val big = Files.createTempFile("graft_big", ".gff3")
    val body = (1 to 200).map(_ => base).mkString("\n")
    Files.write(big, body.getBytes("UTF-8"))
    val key = concat_ws("|", col("seqid"), col("start"), col("attributes"))
    def keyCounts(df: DataFrame) = df.select(key.as("k")).groupBy("k").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val whole = spark.read.format("gff3").load(big.toString)
    val (splitParts, splitCount, a) =
      TestSpark.withConf(spark)("spark.sql.files.maxPartitionBytes" -> "4096") {
        val split = spark.read.format("gff3").load(big.toString)
        (split.rdd.getNumPartitions, split.count(), keyCounts(split))
      }
    assert(splitParts > 1, s"expected >1 split, got $splitParts")
    assert(whole.rdd.getNumPartitions < splitParts)
    // every line lands in exactly one split: counts and full row
    // multisets agree between the split and unsplit reads
    assert(splitCount == whole.count() && splitCount > 0)
    assert(a == keyCounts(whole))
  }

  test("without maxSplitBytes, splits are sized like Spark's file sources") {
    // input spread over the 4 cores of the test session, at least the
    // 4 MB open cost, at most the 128 MB partition cap; planning only,
    // so the sparse files are never read
    assert(spark.sparkContext.defaultParallelism == 4)
    val dir = TestSpark.scratchPath("graft_sizes")
    def sparse(name: String, bytes: Long): String = {
      val f = new java.io.RandomAccessFile(dir.resolve(name).toFile, "rw")
      try f.setLength(bytes) finally f.close()
      dir.resolve(name).toString
    }
    def parts(paths: String*) = spark.read.format("gff3").load(paths: _*).rdd.getNumPartitions
    val mb = 1L << 20
    try {
      assert(parts(sparse("a.gff3", 24 * mb)) == 4)
      assert(parts(sparse("b.gff3", 2 * mb)) == 1)
      assert(parts(dir.resolve("b.gff3").toString, sparse("c.gff3", 2 * mb)) == 2)
      assert(parts(sparse("d.gff3", 1024 * mb)) == 8)
    } finally Seq("a", "b", "c", "d").foreach(n =>
      java.nio.file.Files.deleteIfExists(dir.resolve(s"$n.gff3")))
  }

  test("multi-path load (DataFrameReader encodes paths as a JSON array)") {
    val two = spark.read.format("gff3")
      .load(s"$fx/genes_human.gff3", s"$fx/features_rat.gff3")
    val one = spark.read.format("gff3").load(s"$fx/genes_human.gff3").count() +
      spark.read.format("gff3").load(s"$fx/features_rat.gff3").count()
    assert(two.count() == one && one > 0)
  }

  test("paths option: glob starting with a character class is not mistaken for JSON") {
    // `[gf]enes_human.gff3` starts with '[' but is a Hadoop glob, not a
    // JSON array — it resolves as a path, next to a `load(p1, p2)`,
    // which reaches the source as a JSON-array `paths` option
    val n = spark.read.format("gff3").load(s"$fx/[gf]enes_human.gff3").count()
    val plain = spark.read.format("gff3").load(s"$fx/genes_human.gff3").count()
    assert(n == plain && n > 0)
    val both = spark.read.format("gff3")
      .load(s"$fx/[gf]enes_human.gff3", s"$fx/features_rat.gff3").count()
    assert(both == plain + spark.read.format("gff3").load(s"$fx/features_rat.gff3").count())
  }

  test("gzip files decompress transparently") {
    import java.nio.file.{Files, Paths}
    val gz = Files.createTempFile("graft_gff", ".gff3.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    out.write(Files.readAllBytes(Paths.get(s"$fx/genes_human.gff3")))
    out.close()
    val n = spark.read.format("gff3").load(gz.toString).count()
    val plain = spark.read.format("gff3").load(s"$fx/genes_human.gff3").count()
    assert(n == plain && n > 0)
  }

  test("two reads of one path hit one persisted cache entry") {
    val f = java.nio.file.Files.createTempFile("graft_cache", ".gff3")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$fx/genes_human.gff3"), f,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val cached = Gff3.read(spark, f.toString).persist()
    try {
      val n = cached.count()
      val again = Gff3.read(spark, f.toString).filter(col("type") === "gene")
      val plan = again.queryExecution.withCachedData
      assert(plan.collectFirst { case r: InMemoryRelation => r }.nonEmpty, plan.treeString)
      assert(again.count() > 0 && n > 0)
    } finally cached.unpersist(blocking = true)
  }

  test("the serialized reader factory does not embed the Hadoop conf") {
    def factoryBytes(df: DataFrame): Int = {
      val factory = df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.readerFactory
      }.get
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(factory)
      out.close()
      bytes.size()
    }
    val gff = factoryBytes(spark.read.format("gff3").load(s"$fx/genes_human.gff3"))
    val vcf = factoryBytes(spark.read.format("vcf").load(s"$fx/variants_human.vcf"))
    // measured on the fixtures: ~2.6 KB each with the conf broadcast,
    // ~115 KB each when the factory carried the conf itself
    assert(gff < 8192 && vcf < 8192, s"gff3 $gff B, vcf $vcf B")
  }

  test("a malformed number names the file, the line's byte offset and the column") {
    val f = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(TestSpark.scratchDir("graft_bad")), "bad", ".gff3")
    java.nio.file.Files.write(f, ("##gff-version 3\n" +
      "chr1\tsrc\tgene\tabc\t20\t.\t+\t.\tID=g1\n").getBytes("UTF-8"))
    val ex = intercept[Exception](spark.read.format("gff3").load(f.toString).collect())
    val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(chain.contains(f.getFileName.toString), chain)
    assert(chain.contains("byte 16") && chain.contains("start 'abc'"), chain)
  }

  test("a V1 fallback refuses instead of reading the file as another format") {
    val ex = intercept[Exception] {
      TestSpark.withConf(spark)("spark.sql.sources.useV1SourceList" -> "gff3") {
        spark.read.format("gff3").load(s"$fx/genes_human.gff3").collect()
      }
    }
    assert(ex.getMessage.contains("only read"), ex.toString)
  }
}
