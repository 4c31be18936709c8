package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, input_file_block_start}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.model.EtlOptions
import graft.sources.Gff3

/** Golden-output tests per ETL pipeline over the handcrafted fixtures
  * (FIXTURES.md §A; every cited behavior from SURVEY.md §2 has a case).
  */
class EtlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  def fx(n: String) = TestSpark.fixture(n)

  // ---- genes/exons (A1) -------------------------------------------
  test("genes: projection, chr strip, 0-based starts, strand text, Dbxref skip") {
    val r = GenesExonsEtl.load(spark, fx("genes_human.gff3"), 9606)
    assert(r.skippedNoDbxref === 1) // F7
    val genes = r.genes.orderBy("gene_id").collect()
    assert(genes.map(_.getString(0)).toSeq === Seq("GeneID:100", "GeneID:200", "GeneID:400"))
    val g1 = genes(0)
    assert(g1 === Row("GeneID:100", 9606, "ALPHA", "1", 999L, 2000L, "1", "gene", "alpha gene"))
    val g2 = genes(1)
    assert(g2.getString(3) === "2") // chr2 -> 2 (C1)
    assert(g2.getString(6) === "-1") // C12
    assert(g2.get(8) === null) // Name optional
  }

  test("exons: parent join carries the gene's Dbxref id") {
    val r = GenesExonsEtl.load(spark, fx("genes_human.gff3"), 9606)
    val exons = r.exons.orderBy("exon_id").collect()
    assert(exons.length === 3)
    assert(exons(0) === Row("ex1.1", "GeneID:100", 9606, "1", 999L, 1300L))
    assert(exons(2) === Row("ex4.1", "GeneID:400", 9606, "2", 6999L, 8000L))
  }

  test("genes: duplicate PK aborts the load (D2)") {
    val ex = intercept[Exception] {
      GenesExonsEtl.load(spark, fx("genes_dup.gff3"), 9606).genes.count()
    }
    assert(ex.getMessage.contains("duplicate primary key"))
  }

  // ---- features (A2) ----------------------------------------------
  test("features: blacklist reproduces the mRNAexon concat bug (F4)") {
    val f = FeaturesEtl.load(spark, fx("features_mouse.gff3"), 10090)
    val types = f.select("type").collect().map(_.getString(0)).toSet
    assert(types.contains("mRNA")) // NOT filtered — reference bug
    assert(!types.contains("CDS") && !types.contains("transcript"))
    val fixed = FeaturesEtl.load(spark, fx("features_mouse.gff3"), 10090,
      EtlOptions(fixBlacklist = true))
    assert(!fixed.select("type").collect().map(_.getString(0)).toSet.contains("mRNA"))
  }

  test("features: attr trim, anchored chr strip, dot->null, D3 keep-first") {
    val f = FeaturesEtl.load(spark, fx("features_mouse.gff3"), 10090)
    val q1 = f.filter("id = 'QTL1'").collect().head
    assert(q1.getAs[String]("seq_id") === "1") // Chr1 anchored strip (C2)
    assert(q1.getAs[String]("name") === "Fatq1") // padded '=' trimmed (C5)
    assert(q1.get(q1.fieldIndex("score")) === null) // '.' -> null (C6)
    assert(q1.get(q1.fieldIndex("strand")) === null)
    val q2 = f.filter("id = 'QTL2'").collect().head
    assert(q2.getAs[String]("seq_id") === "2") // CHR2 strip
    assert(q2.getAs[Double]("score") === 1.5)
    assert(q2.getAs[Int]("phase") === 0)
    assert(q2.getAs[String]("parent") === "QTL1")
    // D3: duplicate (source, taxon, id, dbxref) keeps FIRST file row
    val q3 = f.filter("id = 'QTL3'").collect()
    assert(q3.length === 1)
    assert(q3.head.get(q3.head.fieldIndex("bio_type")) === null) // first row had '.'
  }

  test("features: gzip-transparent read (S8) and version pragma (V4)") {
    val gz = FeaturesEtl.load(spark, fx("features_rat.gff3.gz"), 10116)
    assert(gz.count() === 2) // RCDS1 blacklisted
    val ex = intercept[IllegalArgumentException] {
      FeaturesEtl.load(spark, fx("blocks_humanrat.txt"), 1)
    }
    assert(ex.getMessage.contains("gff-version 3"))
  }

  test("features: D3 keep-first picks the earlier row when its duplicate sits in a later split") {
    // Spark sorts a file's splits by length before packing them into
    // partitions; `__ord` comes from the split, not from the packing
    val filler = (1 to 400).map(i => s"1\tMGI\tQTL\t$i\t${i + 9}\t.\t.\t.\tID=F$i;Dbxref=MGI:$i")
    val path = tmpInput(".gff3", (Seq("##gff-version 3",
      "1\tMGI\tQTL\t5\t9\t.\t.\t.\tID=DUP;Dbxref=MGI:1;Name=first") ++ filler :+
      "1\tMGI\tQTL\t5\t9\t.\t.\t.\tID=DUP;Dbxref=MGI:1;Name=second"): _*)
    TestSpark.withConf(spark)("spark.sql.files.maxPartitionBytes" -> "1024") {
      assert(Gff3.read(spark, path).rdd.getNumPartitions > 10)
      val dup = FeaturesEtl.load(spark, path, 10090).filter("id = 'DUP'").collect()
      assert(dup.map(_.getAs[String]("name")).toSeq === Seq("first"))
    }
  }

  /** An input file with the given lines. */
  def tmpInput(suffix: String, lines: String*): String = {
    val f = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(graft.TestSpark.scratchDir("graft_odd")), "in", suffix)
    java.nio.file.Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    f.toString
  }

  test("features: a '.' type is a null type that the blacklist keeps") {
    val f = FeaturesEtl.load(spark, tmpInput(".gff3",
      "##gff-version 3",
      "chr1\tsrc\t.\t10\t20\t.\t+\t.\tID=d1",
      "chr1\tsrc\tCDS\t10\t20\t.\t+\t.\tID=c1",
      "chr1\tsrc\tQTL\t10\t20\t.\t+\t.\tID=q1"), 10090)
    val rows = f.orderBy("id").collect()
    assert(rows.map(_.getAs[String]("id")).toSeq === Seq("d1", "q1"))
    assert(rows(0).get(rows(0).fieldIndex("type")) === null)
  }

  test("gff3: whitespace-only and short lines are skipped, not null-padded") {
    val b = CytoBandEtl.load(spark, tmpInput(".gff3",
      "##gff-version 3",
      "   ",
      "\t\t",
      "chr1\tUCSC\tcytoband\t1\t500",
      "chr1\tUCSC\tcytoband\t1\t500\t.\t.\t.\tID=p1;source=UCSC"), 9606)
    assert(b.collect().toSeq === Seq(
      Row("p1", 9606, "1", "UCSC", "cytoband", 1L, 500L, null, null)))
  }

  test("gff3: a field that starts with a quote is kept verbatim") {
    val f = FeaturesEtl.load(spark, tmpInput(".gff3",
      "##gff-version 3",
      "chr1\t\"Curated\"\tQTL\t10\t20\t.\t+\t.\tID=q1;Name=\"a b\"",
      "chr1\t\"open\tQTL\t30\t40\t.\t+\t.\tID=q2"), 10090)
    val rows = f.orderBy("id").collect()
    assert(rows.map(r => (r.getAs[String]("source"), r.getAs[String]("name"))).toSeq ===
      Seq(("\"Curated\"", "\"a b\""), ("\"open", null)))
    assert(rows.map(_.getAs[Long]("start")).toSeq === Seq(10L, 30L))
  }

  // ---- cytobands (A3) ---------------------------------------------
  test("cytobands: 1-based starts, chr strip, qualifier projection") {
    val b = CytoBandEtl.load(spark, fx("cytoband_human.gff3"), 9606)
      .orderBy("chr", "start").collect()
    assert(b.length === 3)
    assert(b(0) === Row("p36.33", 9606, "1", "UCSC", "cytoband", 1L, 5000000L, "p36.33", "gneg"))
    assert(b(2).getAs[String]("chr") === "2")
  }

  // ---- synteny blocks (A4) ----------------------------------------
  test("blocks: symmetrize, orientation bool, symbol strip, canonical dedup") {
    val b = SyntenyBlocksEtl.load(spark, fx("blocks_humanrat.txt"))
    assert(b.count() === 6) // 3 rows x 2 directions, no PK dups
    val fwd = b.filter("ref_taxonid = 9606 AND ref_chr = '1' AND ref_start_pos = 100")
      .collect().head
    assert(fwd === Row(9606, "1", 100L, 500L, 10116, "5", 200L, 700L, true, "SynBlock001"))
    val rev = b.filter("ref_taxonid = 10116 AND ref_chr = '7'").collect().head
    assert(rev.getAs[Boolean]("same_orientation") === false)
    assert(rev.getAs[Long]("ref_start_pos") === 1000L)
  }

  test("blocks: strictSqliteCompat collapses to one block per (pair, ref chr) (D4)") {
    val b = SyntenyBlocksEtl.load(spark, fx("blocks_humanrat.txt"),
      EtlOptions(strictSqliteCompat = true))
    assert(b.count() === 5)
    val kept = b.filter("ref_taxonid = 9606 AND ref_chr = '1'").collect()
    assert(kept.length === 1)
    assert(kept.head.getAs[String]("symbol") === "SynBlock002") // last in file order
  }

  test("blocks: malformed arity or id aborts (V1/V2)") {
    assert(intercept[IllegalArgumentException] {
      SyntenyBlocksEtl.load(spark, fx("blocks_bad_arity.txt"))
    }.getMessage.contains("validation"))
    assert(intercept[IllegalArgumentException] {
      SyntenyBlocksEtl.load(spark, fx("blocks_bad_id.txt"))
    }.getMessage.contains("validation"))
  }

  // ---- homologs (A5) ----------------------------------------------
  test("homologs: symmetrize both ways, last-wins upsert, counters") {
    val r = HomologsEtl.load(spark, fx("homologs_mousehuman.tsv"))
    assert(r.numRecords === 8) // A4 counter: 4 rows x 2
    assert(r.unexpectedTypes === 1) // V5
    val h = r.homologs
    assert(h.count() === 6) // one PK collision each way
    val latest = h.filter("ref_gene_id = 'MGI:101'").collect().head
    assert(latest.getAs[String]("ref_gene_sym") === "Abc1dup") // D1 last wins
    assert(latest.getAs[String]("ref_seq_id") === "5") // C2 anchored strip
    val reverse = h.filter("ref_gene_id = 'GeneID:100'").collect().head
    assert(reverse.getAs[String]("comp_gene_id") === "MGI:101") // U2
    assert(reverse.getAs[Int]("ref_taxon_id") === 9606)
  }

  test("homologs: a blank line is skipped, a short non-blank line aborts") {
    val rows = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(fx("homologs_mousehuman.tsv"))).asScala.toSeq
    def withRows(extra: String*) = HomologsEtl.load(spark,
      tmpInput(".tsv", (rows.take(2) ++ extra ++ rows.drop(2)): _*))
    val blank = withRows("", "   ")
    assert(blank.numRecords === 8 && blank.homologs.count() === 6)
    val short = withRows("orthologue\t10090")
    assert(intercept[Exception](short.homologs.count()).getMessage.contains("INVALID_ARRAY_INDEX"))
  }

  test("homologs: missing header column aborts (V3)") {
    val ex = intercept[IllegalArgumentException] {
      HomologsEtl.load(spark, fx("homologs_missing_col.tsv"))
    }
    assert(ex.getMessage.contains("end2"))
  }

  // ---- variants (A6) ----------------------------------------------
  test("variants: CG explode, ALT join, dot handling, chr strip") {
    val v = VariantsEtl.load(spark, fx("variants_human.vcf"), 9606)
      .orderBy("pos", "gene").collect()
    assert(v.length === 4) // rs001 explodes into 2 rows (X3)
    val rs3 = v(0)
    assert(rs3 === Row("3", 777L, "rs003", "G", "", 10.0, "q10", 0.9, "GeneID:400", "TraitC", 9606))
    val rs2 = v(1)
    assert(rs2.getAs[String]("alt_allele") === "T/G") // C7
    assert(rs2.get(rs2.fieldIndex("id")) === null)
    assert(rs2.get(rs2.fieldIndex("quality")) === null)
    val rs1a = v(2)
    assert(rs1a.getAs[String]("chr") === "1")
    assert(rs1a.getAs[Double]("frequency") === 0.12) // AF first value
    assert(Set(v(2), v(3)).map(_.getAs[String]("gene")) ===
      Set("GeneID:100", "GeneID:200"))
  }

  test("variants: a '.' ALT loads as the empty string; odd lines are skipped") {
    val v = VariantsEtl.load(spark, tmpInput(".vcf",
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
      "chr1\t10\trs1\tA\t.\t5\tPASS\tCG=GeneID:1",
      "  ",
      "chr1\t20\trs2\tA",
      "chr1\t30\trs3\tA\tC,G\t.\tPASS\tCG=GeneID:2"), 9606)
      .orderBy("pos").collect()
    assert(v.map(r => (r.getAs[Long]("pos"), r.getAs[String]("alt_allele"))).toSeq ===
      Seq((10L, ""), (30L, "C/G")))
  }

  // ---- ontology (A7/A8) -------------------------------------------
  test("ontology: stanza parse, obsolete drop, closure, counts") {
    val r = OntologyEtl.load(spark,
      Seq(fx("ontology_go.obo"), fx("ontology_mp.obo")),
      Seq((fx("annotations_go_human.gaf"), 9606),
        (fx("annotations_mp_mouse.gaf"), 10090)))
    val terms = r.terms.orderBy("id").collect()
    // GO:0006 obsolete (F6) dropped; Typedef ignored; 6 GO + 2 MP
    assert(terms.map(_.getString(0)).toSeq === Seq(
      "GO:0001", "GO:0002", "GO:0003", "GO:0004", "GO:0005", "GO:0007",
      "MP:0001", "MP:0002"))
    val byId = terms.map(t => t.getString(0) -> t).toMap
    assert(byId("GO:0002").getAs[String]("namespace") === "biological_process")
    assert(byId("GO:0004").getAs[String]("def") === "\"leafish\" [x]")
    // A2 counts: obsolete GO:0006's is_a edge still counts under GO:0001
    assert(byId("GO:0001").getAs[Long]("count") === 5L)
    assert(byId("GO:0002").getAs[Long]("count") === 2L)
    assert(byId("GO:0004").getAs[Long]("count") === 1L)
    assert(byId("GO:0005").get(4) === null) // leaf: NULL count
    assert(byId("GO:0007").get(4) === null)
    assert(byId("MP:0001").getAs[Long]("count") === 1L)

    val pairs = r.pairs.collect().map(p => (p.getString(0), p.getString(1)))
    assert(pairs.length === 11) // 10 GO closure pairs + 1 MP
    assert(pairs.contains(("GO:0001", "GO:0005"))) // depth-3 transitivity
    assert(pairs.contains(("GO:0001", "GO:0006"))) // obsolete edge retained
    assert(pairs.contains(("GO:0002", "GO:0005")))
    assert(!pairs.contains(("GO:0002", "GO:0003"))) // siblings unrelated
    assert(r.pairs.collect().forall(_.getString(2) === "is_a"))
  }

  test("gaf: taxon filter, multi-taxon first-wins, cross-file last-wins") {
    val r = OntologyEtl.loadGafs(spark,
      Seq((fx("annotations_go_human.gaf"), 9606),
        (fx("annotations_mp_mouse.gaf"), 10090)))
    val rows = r.orderBy("gene_id", "ontology_id").collect()
      .map(x => (x.getString(0), x.getString(1), x.getInt(2)))
    // GeneID:999 (wrong taxon) skipped; (GeneID:100, GO:0002) taken from
    // the LATER mouse file — PK is not taxon-qualified (§7.6.5)
    assert(rows.toSeq === Seq(
      ("GeneID:100", "GO:0002", 10090),
      ("GeneID:200", "GO:0004", 9606),
      ("MGI:101", "MP:0002", 10090)))
  }

  test("gaf: cross-file last-wins holds past 117 partitions of the first file") {
    // the in-file ordinal carries the partition index from bit 33 up:
    // partition 117 of file 0 reaches 117 * 2^33 > 1e12
    def gafLine(gene: String, term: String, taxon: Int) =
      (Seq("DB", gene, "SYM", "", term, "REF", "EV", "", "P", "name", "", "protein",
        s"taxon:$taxon", "20210101", "AA") ++ Seq.fill(2)("")).mkString("\t")
    val first = tmpInput(".gaf", ((1 to 2000).map(i => gafLine(s"G$i", "GO:0001", 9606)) :+
      gafLine("GeneID:7", "GO:0009", 9606)): _*)
    val second = tmpInput(".gaf", gafLine("GeneID:7", "GO:0009", 10090))
    TestSpark.withConf(spark)("spark.sql.files.maxPartitionBytes" -> "1024") {
      assert(spark.read.option("sep", "\t").csv(first).rdd.getNumPartitions > 117)
      val kept = OntologyEtl.loadGafs(spark, Seq((first, 9606), (second, 10090)))
        .filter("gene_id = 'GeneID:7'").collect()
      assert(kept.toSeq === Seq(Row("GeneID:7", "GO:0009", 10090)))
    }
  }

  test("gaf: each row is a tab-split line") {
    // the reference splits each line on tabs: a field that opens with a
    // quote is text, not the start of a quoted field; `!` comments,
    // blank and space-only lines, and lines too short to hold the
    // taxon field are skipped
    def gafLine(gene: String, name: String) =
      (Seq("DB", gene, "SYM", "", "GO:0001", "REF", "EV", "", "P", name, "", "protein",
        "taxon:9606", "20210101", "AA") ++ Seq.fill(2)("")).mkString("\t")
    val path = tmpInput(".gaf", "!gaf-version: 2.2", gafLine("G1", "\"beta"), "", "   ", "\t",
      "DB\tG3\tSYM\t\tGO:0003", gafLine("G2", "alpha"))
    assert(OntologyEtl.loadGafs(spark, Seq((path, 9606))).orderBy("gene_id").collect().toSeq ===
      Seq(Row("G1", "GO:0001", 9606), Row("G2", "GO:0001", 9606)))
  }

  test("ordinals: keep-first and last-wins follow file order across bzip2 splits") {
    // Hadoop's bzip2 reader splits a file at its ~900 kB blocks, and keys
    // a line by the compressed start of its split plus the bytes read
    // since: the earlier duplicate, deep in the first block, has the
    // larger key. Each file is two blocks.
    def bz2Input(suffix: String, lines: Seq[String]): String = {
      val f = java.nio.file.Files.createTempFile(
        java.nio.file.Paths.get(TestSpark.scratchDir("graft_bz2")), "in", suffix)
      val codec = new org.apache.hadoop.io.compress.BZip2Codec()
      codec.setConf(spark.sparkContext.hadoopConfiguration)
      val out = codec.createOutputStream(java.nio.file.Files.newOutputStream(f))
      try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
      f.toString
    }
    val n = 24000
    def withDups(line: Int => String, first: String, last: String) =
      (1 until n).map(i => if (i == n / 2) first else line(i)) :+ last
    def feature(i: Int, id: String, name: String) =
      s"1\tMGI\tQTL\t$i\t${i + 9}\t.\t.\t.\tID=$id;Dbxref=MGI:$i;Name=$name"
    val gff = bz2Input(".gff3.bz2", "##gff-version 3" +: withDups(i => feature(i, s"F$i", "f"),
      feature(0, "DUP", "first"), feature(0, "DUP", "second")))
    def block(i: Int, id: String) = s"1\t9606\t$i\t${i + 9}\t4\t10116\t$i\t${i + 9}\t+\tID=$id"
    val blocks = bz2Input(".txt.bz2", withDups(i => block(i, s"SynBlock$i"),
      block(0, "SynBlockEarly"), block(0, "SynBlockLate")))
    def splitsOf(path: String, dup: String) = spark.read.text(path)
      .filter(col("value").contains(dup)).select(input_file_block_start()).collect().map(_.getLong(0))
    val size = Seq(gff, blocks).map(p => java.nio.file.Files.size(java.nio.file.Paths.get(p))).max
    TestSpark.withConf(spark)("spark.sql.files.maxPartitionBytes" -> (size / 8).toString) {
      for ((path, dup) <- Seq(gff, blocks).zip(Seq("ID=DUP", "\t9606\t0\t"))) {
        val starts = splitsOf(path, dup)
        assert(starts.length === 2 && starts(0) < starts(1), s"$path: ${starts.toSeq}")
      }
      assert(FeaturesEtl.load(spark, gff, 10090).filter("id = 'DUP'").select("name")
        .collect().toSeq === Seq(Row("first")))
      assert(SyntenyBlocksEtl.load(spark, blocks).filter("ref_start_pos = 0").select("symbol")
        .collect().toSeq === Seq(Row("SynBlockLate"), Row("SynBlockLate")))
    }
  }

  test("ontology: no cache entry outlives a load, and a rewritten OBO is read fresh") {
    val obo = java.nio.file.Paths.get(TestSpark.scratchDir("graft_obo"), "go.obo")
    def load(): Set[String] = {
      val out = TestSpark.scratchDir("graft_obo_out")
      Pipeline.writeObserved(Pipeline.run(spark, Pipeline.Inputs(obo = Seq(obo.toString))), out)
      assert(graft.sources.Obo.read(spark, obo.toString).queryExecution.withCachedData
        .collectFirst { case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }
        .isEmpty)
      spark.read.parquet(s"$out/on_terms").collect().map(_.getAs[String]("id")).toSet
    }
    java.nio.file.Files.copy(java.nio.file.Paths.get(fx("ontology_mp.obo")), obo)
    assert(load() === Set("MP:0001", "MP:0002"))
    java.nio.file.Files.writeString(obo, "[Term]\nid: MP:0009\nname: rewritten\n")
    assert(load() === Set("MP:0009"))
  }

  // ---- pipeline (A9) ----------------------------------------------
  /** Every family over the fixtures; GAF files in shell order, so
    * gene_ontology_map exercises the cross-file last-wins upsert.
    */
  def pipelineInputs(genes: String = "genes_human.gff3") = Pipeline.Inputs(
    genes = Seq(Pipeline.SpeciesFile(fx(genes), 9606)),
    blocks = Seq(fx("blocks_humanrat.txt")),
    cytobands = Seq(Pipeline.SpeciesFile(fx("cytoband_human.gff3"), 9606)),
    features = Seq(Pipeline.SpeciesFile(fx("features_mouse.gff3"), 10090),
      Pipeline.SpeciesFile(fx("features_rat.gff3.gz"), 10116)),
    variants = Seq(Pipeline.SpeciesFile(fx("variants_human.vcf"), 9606)),
    obo = Seq(fx("ontology_go.obo"), fx("ontology_mp.obo")),
    gaf = Seq((fx("annotations_go_human.gaf"), 9606),
      (fx("annotations_mp_mouse.gaf"), 10090)),
    homologs = Seq(fx("homologs_mousehuman.tsv"), fx("homologs_rathuman.tsv")))

  def workers(): Int = Thread.getAllStackTraces.keySet.asScala
    .count(t => t.getName == Pipeline.WorkerName && t.isAlive)

  test("pipeline: end-to-end families produce all ten tables") {
    val tables = Pipeline.run(spark, pipelineInputs())
    assert(tables.keySet === Set("gene", "exon", "syntenic_block",
      "cytogenetic_band", "feature", "snp_variant", "on_terms", "on_pairs",
      "gene_ontology_map", "homolog"))
    // mouse: 7 rows − 2 blacklisted − 1 D3 dup = 4 (mRNA incl.); rat: 2
    assert(tables("feature").count() === 6)
    assert(tables("homolog").count() === 10) // 6 + 4 across two files
    val out = graft.TestSpark.scratchDir("graft_pipeline")
    Pipeline.writeObserved(tables, out)
    val geneBack = spark.read.parquet(s"$out/gene")
    assert(geneBack.count() === tables("gene").count())
    assert(geneBack.columns.contains("gene_taxonid")) // partition col survives
  }

  test("writeObserved: in-flight row accounting matches what landed (A4)") {
    val tables = Pipeline.run(spark, Pipeline.Inputs(
      genes = Seq(Pipeline.SpeciesFile(fx("genes_human.gff3"), 9606))))
    val out = graft.TestSpark.scratchDir("graft_obs")
    val metrics = Pipeline.writeObserved(tables, out)
    // the observed count rode the write job — assert it equals a
    // fresh count of what's actually on disk, for every table
    for ((name, n) <- metrics) {
      assert(n === spark.read.parquet(s"$out/$name").count(),
        s"observed count for $name diverges from the written table")
    }
    assert(metrics.keySet === tables.keySet)
  }

  test("writeObserved: concurrent tables land exactly as one-at-a-time writes") {
    val tables = Pipeline.run(spark, pipelineInputs())
    val together = graft.TestSpark.scratchDir("graft_together")
    val alone = graft.TestSpark.scratchDir("graft_alone")
    val counts = Pipeline.writeObserved(tables, together)
    val countsAlone = tables.flatMap { case (name, df) =>
      Pipeline.writeObserved(Map(name -> df), alone)
    }
    assert(counts === countsAlone)
    def rows(dir: String, name: String) =
      spark.read.parquet(s"$dir/$name").collect().map(_.toString).sorted.toSeq
    for (name <- tables.keys)
      assert(rows(together, name) === rows(alone, name), s"$name differs")
    // the cross-file last-wins row survives the concurrent write
    assert(rows(together, "gene_ontology_map").exists(r =>
      r.contains("GeneID:100") && r.contains("GO:0002") && r.contains("10090")))
    assert(workers() === 0)
  }

  test("writeObserved: a failing table throws its own error after the rest land") {
    val tables = Pipeline.run(spark, pipelineInputs("genes_dup.gff3"))
    val out = graft.TestSpark.scratchDir("graft_dup")
    val ex = intercept[Exception](Pipeline.writeObserved(tables, out))
    assert(!ex.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("duplicate primary key"))),
      ex.toString)
    for (name <- tables.keySet - "gene")
      assert(new java.io.File(s"$out/$name/_SUCCESS").exists, s"$name not written")
    assert(workers() === 0)
  }

  // ---- one load per family over all of its files ------------------
  /** A file `name` in a fresh scratch directory whose name starts `dir`. */
  def inputIn(dir: String, name: String, lines: String*): String = {
    val f = TestSpark.scratchPath(dir).resolve(name)
    java.nio.file.Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    f.toString
  }

  def gene(id: String, dbxref: String, chr: String = "chr1") =
    s"$chr\tSRC\tgene\t10\t90\t.\t+\t.\tID=$id;Dbxref=$dbxref;Symbol=$id"
  def exon(id: String, parent: String, chr: String = "chr1") =
    s"$chr\tSRC\texon\t10\t40\t.\t+\t.\tID=$id;Parent=$parent"
  def gff3(lines: String*): String = tmpInput(".gff3", ("##gff-version 3" +: lines): _*)

  test("families: a key in two files follows the reference's one-table conflict modes") {
    // Spark packs the larger of two small files first, so the later file
    // is the larger one here: file order must come from the file index,
    // not from the in-file ordinal alone
    val padding = Seq.fill(40)("")
    val homHeader = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(fx("homologs_mousehuman.tsv"))).get(0)
    def homolog(sym: String) =
      s"orthologue\t10090\tMGI:1\t$sym\t1\t1\t2\t9606\tGeneID:1\tH\t1\t1\t2"
    val h = HomologsEtl.load(spark, Seq(
      tmpInput(".tsv", homHeader, homolog("early")),
      tmpInput(".tsv", (Seq(homHeader, homolog("late")) ++ padding): _*))).homologs
    assert(h.filter("ref_gene_id = 'MGI:1'").select("ref_gene_sym").collect().toSeq ===
      Seq(Row("late")), "homolog: the later file wins")
    assert(h.count() === 2)

    def block(sym: String) = s"1\t9606\t100\t500\t5\t10116\t200\t700\t+\tID=$sym"
    val b = SyntenyBlocksEtl.load(spark, Seq(
      tmpInput(".txt", block("SynBlockEarly")),
      tmpInput(".txt", (block("SynBlockLate") +: padding): _*)),
      EtlOptions())
    assert(b.select("symbol").distinct().collect().toSeq === Seq(Row("SynBlockLate")),
      "syntenic_block: the later file wins")
    assert(b.count() === 2)

    def feature(name: String) = s"1\tMGI\tQTL\t5\t9\t.\t.\t.\tID=Q;Dbxref=MGI:1;Name=$name"
    val f = FeaturesEtl.load(spark, Seq(
      Pipeline.SpeciesFile(gff3(feature("first")), 10090),
      Pipeline.SpeciesFile(gff3((feature("second") +: padding.map(_ => "#")): _*), 10090),
      Pipeline.SpeciesFile(gff3(feature("rat")), 10116)), EtlOptions())
    assert(f.orderBy("taxon_id").select("taxon_id", "name").collect().toSeq ===
      Seq(Row(10090, "first"), Row(10116, "rat")), "feature: first wins within a taxon")

    val twice = Seq(
      Pipeline.SpeciesFile(gff3(gene("g1", "GeneID:1"), exon("e1", "g1")), 9606),
      Pipeline.SpeciesFile(gff3(gene("g9", "GeneID:1"), exon("e1", "g9")), 9606))
    val r = GenesExonsEtl.load(spark, twice)
    for ((t, df, key) <- Seq(("gene", r.genes, "GeneID:1,9606,1"), ("exon", r.exons, "e1,9606,1"))) {
      val msg = intercept[Exception](df.collect()).getMessage
      assert(msg.contains("duplicate primary key") && msg.contains(key), s"$t: $msg")
    }
    val otherTaxon = GenesExonsEtl.load(spark,
      twice.zip(Seq(9606, 10090)).map { case (f, t) => f.copy(taxonId = t) })
    assert(otherTaxon.genes.count() === 2 && otherTaxon.exons.count() === 2)
  }

  test("families: an exon links only to a gene of its own file") {
    // both species files use the row IDs g1 and g2
    val r = GenesExonsEtl.load(spark, Seq(
      Pipeline.SpeciesFile(gff3(gene("g1", "GeneID:1"), gene("g2", "GeneID:2"),
        exon("h1", "g1"), exon("h2", "g2")), 9606),
      Pipeline.SpeciesFile(gff3(gene("g1", "MGI:1"), exon("m1", "g1"), exon("m2", "g2")), 10090)))
    assert(r.exons.orderBy("exon_id").select("exon_id", "parent_gene", "taxonid")
      .collect().toSeq === Seq(
        Row("h1", "GeneID:1", 9606), Row("h2", "GeneID:2", 9606), Row("m1", "MGI:1", 10090)))
  }

  test("families: each row's file is the scan's own, whatever the path") {
    val band = "chr1\tUCSC\tcytoband\t1\t500\t.\t.\t.\tID=b"
    val spaced = inputIn("graft odd dir", "bands one.gff3", "##gff-version 3", band)
    val absolute = inputIn("graft_a", "bands.gff3", "##gff-version 3", band)
    val sameName = inputIn("graft_b", "bands.gff3", "##gff-version 3", band)
    val relative = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(sameName)).toString
    assert(!relative.startsWith("/"))
    val files = Seq(spaced -> 1, absolute -> 2, relative -> 3).map {
      case (p, t) => Pipeline.SpeciesFile(p, t)
    }
    def taxa(df: org.apache.spark.sql.DataFrame) =
      df.select("taxon_id").collect().map(_.getInt(0)).sorted.toSeq
    assert(taxa(CytoBandEtl.load(spark, files)) === Seq(1, 2, 3))

    // a persisted multi-file read serves the load, and its file column
    // survives the cache
    val cached = Gff3.read(spark, files.map(_.path)).persist()
    try {
      cached.count()
      val bands = CytoBandEtl.load(spark, files)
      assert(bands.queryExecution.withCachedData.collectFirst {
        case c: org.apache.spark.sql.execution.columnar.InMemoryRelation => c
      }.nonEmpty)
      assert(taxa(bands) === Seq(1, 2, 3))
    } finally cached.unpersist(blocking = true)

    // the same through Spark's csv source
    def gafLine(taxon: Int) = (Seq("DB", s"G$taxon", "SYM", "", "GO:1", "REF", "EV", "", "P",
      "name", "", "protein", s"taxon:$taxon", "20210101", "AA") ++ Seq.fill(2)("")).mkString("\t")
    val gafs = Seq(inputIn("graft odd gaf", "a b.gaf", gafLine(1)) -> 1,
      inputIn("graft_gaf_a", "x.gaf", gafLine(2)) -> 2,
      inputIn("graft_gaf_b", "x.gaf", gafLine(3)) -> 3)
    assert(OntologyEtl.loadGafs(spark, gafs).select("gene_id").collect().map(_.getString(0))
      .sorted.toSeq === Seq("G1", "G2", "G3"))

    // one file named twice in a family, however it is spelled
    val ex = intercept[IllegalArgumentException](CytoBandEtl.load(spark,
      Seq(Pipeline.SpeciesFile(absolute, 9606), Pipeline.SpeciesFile(s"file://$absolute", 10090))))
    assert(ex.getMessage.contains(absolute), ex.getMessage)
  }

  test("pipeline: each table plan reads each format in one scan, with no union") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet, Nondeterministic}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Union}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val in = pipelineInputs()
    val tables = Pipeline.run(spark, in.copy(
      genes = in.genes :+ Pipeline.SpeciesFile(fx("genes_dup.gff3"), 10090),
      cytobands = in.cytobands :+ Pipeline.SpeciesFile(fx("features_mouse.gff3"), 10090),
      variants = in.variants :+ Pipeline.SpeciesFile(fx("variants_dirty.vcf"), 10116),
      blocks = in.blocks :+ tmpInput(".txt", "2\t9606\t1\t9\t4\t10116\t1\t9\t+\tID=SynBlock9")))
    for ((name, df) <- tables) {
      val plan = df.queryExecution.optimizedPlan
      val scans = plan.collectLeaves().collect {
        case r: DataSourceV2ScanRelation => r.relation.table.name.takeWhile(_ != ' ')
        case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
          r.relation.asInstanceOf[HadoopFsRelation].fileFormat.toString
      }
      assert(scans.nonEmpty || name == "on_pairs", s"$name: no scan")
      for ((format, n) <- scans.groupBy(identity).view.mapValues(_.size))
        assert(n === 1 || (name == "exon" && n === 2), s"$name reads $format in $n scans")
      if (name != "on_terms" && name != "on_pairs")
        assert(plan.collectFirst { case u: Union => u }.isEmpty, s"$name plans a union")
      // row order comes from the scan, so nothing blocks a filter's pushdown
      assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[Nondeterministic]))),
        s"$name plans a nondeterministic expression")
    }
    val feature = tables("feature").queryExecution.optimizedPlan
    assert(feature.exists {
      case Filter(blacklist, scan: DataSourceV2ScanRelation) =>
        scan.relation.table.name.startsWith("gff3 ") &&
          blacklist.exists(e => e.isInstanceOf[In] || e.isInstanceOf[InSet])
      case _ => false
    }, s"feature: no blacklist filter directly above its gff3 scan\n$feature")
  }

  test("blocks: two files cost one validation job, whose error names the bad file") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"etlspec-blocks-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    // listener delivery is async: poll until the count is quiet for 300 ms
    def settled(): Int = {
      var last = -1
      while (jobs.get() != last) { last = jobs.get(); Thread.sleep(300) }
      last
    }
    val sc = spark.sparkContext
    val good = fx("blocks_humanrat.txt")
    val bad = inputIn("graft_blocks", "bad.txt", "1\t9606\t1\t9\t4\t10116\t1\t9\t+\tID=Nope")
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "validation")
    try {
      SyntenyBlocksEtl.load(spark, Seq(good, tmpInput(".txt",
        "2\t9606\t1\t9\t4\t10116\t1\t9\t+\tID=SynBlock9")), EtlOptions())
      assert(settled() === 1)
      val ex = intercept[IllegalArgumentException](
        SyntenyBlocksEtl.load(spark, Seq(good, bad), EtlOptions()))
      assert(ex.getMessage.contains("validation") && ex.getMessage.contains(s"$bad: "),
        ex.getMessage)
      assert(settled() === 2)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a repeated load compiles no generated class") {
    // one load over every fixture family compiles about 200 generated
    // classes in a fresh JVM, more than Spark's default codegen cache
    // of 100 holds (with it, the second load recompiles nearly all of
    // them); the session shape's cache keeps them all. Whatever ran
    // before only warms the first load, so the count does not depend
    // on suite order.
    def load(): Map[String, Long] = Pipeline.writeObserved(
      Pipeline.run(spark, pipelineInputs()), graft.TestSpark.scratchDir("graft_reload"))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = load()
    val before = compiles.getCount
    assert(load() === first)
    assert(compiles.getCount - before === 0)
  }
}
