package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.model.EtlOptions

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
    Pipeline.write(tables, out)
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
