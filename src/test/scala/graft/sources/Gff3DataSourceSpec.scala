package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The gff3 DataSourceV2: typed read, results identical to an
  * independent csv-based reference reader, column pruning and filter
  * pushdown visible in the plan, gzip transparency, cache reuse across
  * reads, and a reader factory that carries no Hadoop configuration.
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
    val whole = spark.read.format("gff3").load(big.toString)
    val split = spark.read.format("gff3")
      .option("maxSplitBytes", "4096").load(big.toString)
    assert(split.rdd.getNumPartitions > 1,
      s"expected >1 split, got ${split.rdd.getNumPartitions}")
    assert(whole.rdd.getNumPartitions < split.rdd.getNumPartitions)
    // every line lands in exactly one split: counts and full row
    // multisets agree between the split and unsplit reads
    assert(split.count() == whole.count() && whole.count() > 0)
    val key = concat_ws("|", col("seqid"), col("start"), col("attributes"))
    val a = split.select(key.as("k")).groupBy("k").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val b = whole.select(key.as("k")).groupBy("k").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("without maxSplitBytes, splits are sized like Spark's file sources") {
    // input spread over the 4 cores of the test session, at least the
    // 4 MB open cost, at most the 128 MB partition cap
    assert(spark.sparkContext.defaultParallelism == 4)
    val mb = 1L << 20
    def splits(sizes: Long*) = LineFileProvider.resolveSplits(Map.empty,
      sizes.zipWithIndex.map { case (n, i) => s"f$i.gff3" -> n })
    assert(splits(24 * mb).map(_.start) == Seq(0L, 7 * mb, 14 * mb, 21 * mb))
    assert(splits(2 * mb).size == 1)
    assert(splits(1024 * mb).size == 8)
    assert(splits(2 * mb, 2 * mb).size == 2)
  }

  test("multi-path load (DataFrameReader encodes paths as a JSON array)") {
    val two = spark.read.format("gff3")
      .load(s"$fx/genes_human.gff3", s"$fx/features_rat.gff3")
    val one = spark.read.format("gff3").load(s"$fx/genes_human.gff3").count() +
      spark.read.format("gff3").load(s"$fx/features_rat.gff3").count()
    assert(two.count() == one && one > 0)
  }

  test("paths option: glob starting with a character class is not mistaken for JSON") {
    // `[ab]*.gff3` starts with '[' but is a Hadoop glob, not a JSON
    // array — it must fall through to path interpretation, not throw
    assert(LineFileProvider.parsePathsOption("[gf]*.gff3") == Seq("[gf]*.gff3"))
    assert(LineFileProvider.parsePathsOption("""["p1.gff3","p2.gff3"]""") ==
      Seq("p1.gff3", "p2.gff3"))
    assert(LineFileProvider.parsePathsOption("a.gff3, b.gff3") ==
      Seq("a.gff3", "b.gff3"))
    // glob resolves end-to-end through the reader
    val n = spark.read.format("gff3").load(s"$fx/[gf]enes_human.gff3").count()
    val plain = spark.read.format("gff3").load(s"$fx/genes_human.gff3").count()
    assert(n == plain && n > 0)
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
}
