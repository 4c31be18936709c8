package graft.etl

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The parquet layout written by `Pipeline.writeObserved` must deliver
  * what the reference's B-tree indexes delivered (SURVEY.md §1.4): a
  * per-species lookup touches one taxon partition (partition pruning
  * visible in the scan), and rows inside each partition are sorted on
  * (chr, start) for min/max row-group skipping.
  */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val fx = "/root/repo/src/test/resources/fixtures"

  test("taxon filter prunes partitions; rows sorted within partition") {
    import spark.implicits._
    val out = graft.TestSpark.scratchDir("graft_layout")
    // two species of genes via the reference loaders (same file,
    // different taxon — the layout is what's under test)
    val g1 = GenesExonsEtl.load(spark, s"$fx/genes_human.gff3", 9606).genes
    val g2 = GenesExonsEtl.load(spark, s"$fx/genes_human.gff3", 10090).genes
      .withColumn("gene_taxonid", lit(10090))
    Pipeline.writeObserved(Map("gene" -> g1.unionByName(g2)), out)

    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val schema = spark.read.parquet(s"$out/gene").schema
    val q = spark.read.schema(schema).parquet(s"$out/gene")
      .filter(col("gene_taxonid") === 9606)
      .select("gene_chr", "gene_start_pos")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(600))
    assert(plan.contains("gene_taxonid"), plan.take(600))
    val expected = q.count()
    assert(expected > 0)

    // in-partition sort order: (chr, start) ascending within the file
    import spark.implicits._
    val humanFiles = new java.io.File(s"$out/gene/gene_taxonid=9606")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.toString)
    val rows = spark.read.parquet(humanFiles: _*)
      .select("gene_chr", "gene_start_pos")
      .as[(String, Long)].collect().toSeq
    assert(rows == rows.sortBy(identity), "rows not sorted on (chr, start)")

    // behavioral pruning proof: corrupt the mouse partition's files;
    // the taxon-filtered scan must still succeed (it never opens
    // them), while an unfiltered scan fails on the garbage
    val mouseDir = new java.io.File(s"$out/gene/gene_taxonid=10090")
    mouseDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.write(f.toPath, "not a parquet file".getBytes)
    }
    val pruned = spark.read.schema(schema).parquet(s"$out/gene")
      .filter(col("gene_taxonid") === 9606)
      .select("gene_chr", "gene_start_pos")
    assert(pruned.count() == expected)
    val unpruned = spark.read.schema(schema).parquet(s"$out/gene")
      .select("gene_chr", "gene_start_pos")
    intercept[Exception](unpruned.count())
  }

  test("dynamic partition overwrite replaces one taxon, leaves the others intact") {
    import spark.implicits._
    val out = graft.TestSpark.scratchDir("graft_layout_dyn")
    val human = GenesExonsEtl.load(spark, s"$fx/genes_human.gff3", 9606).genes
    val mouse = GenesExonsEtl.load(spark, s"$fx/genes_human.gff3", 10090).genes
      .withColumn("gene_taxonid", lit(10090))
    Pipeline.writeObserved(Map("gene" -> human.unionByName(mouse)), out)
    val humanBefore = spark.read.parquet(s"$out/gene")
      .filter(col("gene_taxonid") === 9606).count()
    // per-species reload: only the mouse partition in the frame;
    // dynamic overwrite must not touch the human partition
    val mouseHalf = mouse.filter(col("gene_chr") === "2")
    Pipeline.writeObserved(Map("gene" -> mouseHalf), out,
      dynamicPartitionOverwrite = true)
    val after = spark.read.parquet(s"$out/gene")
    assert(after.filter(col("gene_taxonid") === 9606).count() == humanBefore,
      "human partition was clobbered by a mouse-only reload")
    assert(after.filter(col("gene_taxonid") === 10090).count()
      == mouseHalf.count(), "mouse partition not replaced")
    // static overwrite (default) drops every partition not in the frame
    Pipeline.writeObserved(Map("gene" -> mouseHalf), out)
    assert(spark.read.parquet(s"$out/gene")
      .filter(col("gene_taxonid") === 9606).count() == 0)
  }

  test("exon layout mirrors index exon(parent_gene, exon_start_pos)") {
    import spark.implicits._
    val out = graft.TestSpark.scratchDir("graft_layout_exon")
    val exons = GenesExonsEtl.load(spark, s"$fx/genes_human.gff3", 9606).exons
    Pipeline.writeObserved(Map("exon" -> exons), out)
    val files = new java.io.File(s"$out/exon/taxonid=9606")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.toString)
    val rows = spark.read.parquet(files: _*)
      .select("parent_gene", "exon_start_pos")
      .as[(String, Long)].collect().toSeq
    assert(rows.nonEmpty &&
      rows == rows.sortBy(identity),
      "exon rows not sorted on (parent_gene, exon_start_pos)")
  }
}
