package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random
import graft.etl.Pipeline

/** Expected content of one output table: rows of rendered column
  * values (`null` where the loader yields NULL), in `columns` order.
  */
final case class ModelTable(name: String, columns: Seq[String],
    rows: mutable.ArrayBuffer[Array[String]] = mutable.ArrayBuffer.empty) {
  def add(values: Any*): Unit =
    rows += values.map(v => if (v == null) null else v.toString).toArray
}

/** Sizes of one generated input set, per species unless noted. */
final case class EtlSize(genes: Int, maxExons: Int, features: Int,
    bandsPerChr: Int, snps: Int, blocks: Int, homologs: Int,
    goTerms: Int, mpTerms: Int, gafRows: Int, chromosomes: Int = 6) {

  /** Every record count times `f`; exons per gene, bands per chromosome
    * and the chromosome count stay as they are.
    */
  def scaled(f: Double): EtlSize = {
    def n(x: Int) = math.max(1, math.round(x * f).toInt)
    copy(genes = n(genes), features = n(features), snps = n(snps),
      blocks = n(blocks), homologs = n(homologs), goTerms = n(goTerms),
      mpTerms = n(mpTerms), gafRows = n(gafRows))
  }
}

/** A generated input set: the reference-format files, the
  * `Pipeline.Inputs` naming them, and the tables the loaders must
  * produce from them.
  */
final class EtlData(val dir: Path, val inputs: Pipeline.Inputs,
    val inputBytes: Long, val inputRecords: Map[String, Long],
    val rejected: Map[String, Long], val tables: Map[String, ModelTable],
    val descendants: Map[String, Seq[String]])

/** Seeded, download-free generator of the `etl_load` inputs for three
  * species. Every case the loaders handle is planted at a small rate:
  * duplicate primary keys (last-wins blocks/homologs/GAF, first-wins
  * features), `chr`/`Chr`/`CHR`/bare seqids, blacklisted feature types,
  * genes without `Dbxref`, obsolete OBO terms, `.` placeholders,
  * multi-taxon and foreign-taxon GAF rows, VCF rows without genes. The
  * ontology is a random DAG whose terms close to ~10-20 ancestors, the
  * shape of GO, so `Closure` stays on its in-heap path as it does on
  * real ontologies.
  *
  * The expected tables follow the loaders' documented semantics
  * (reference fidelity notes in `graft.etl.*`), computed independently
  * of Spark.
  */
object EtlGen {
  val Taxa: Seq[Int] = Seq(9606, 10090, 10116)
  private val ChrLen = 60000000

  val Columns: Map[String, Seq[String]] = Map(
    "gene" -> Seq("gene_id", "gene_taxonid", "gene_symbol", "gene_chr",
      "gene_start_pos", "gene_end_pos", "gene_strand", "gene_type", "gene_name"),
    "exon" -> Seq("exon_id", "parent_gene", "taxonid", "exon_chr",
      "exon_start_pos", "exon_end_pos"),
    "feature" -> Seq("taxon_id", "seq_id", "source", "type", "start", "end",
      "score", "strand", "phase", "id", "name", "dbxref", "bio_type",
      "status", "parent"),
    "cytogenetic_band" -> Seq("id", "taxon_id", "chr", "source", "type",
      "start", "end", "location", "color"),
    "snp_variant" -> Seq("chr", "pos", "id", "ref_base", "alt_allele",
      "quality", "filter", "frequency", "gene", "trait_id", "taxon_id"),
    "syntenic_block" -> Seq("ref_taxonid", "ref_chr", "ref_start_pos",
      "ref_end_pos", "comp_taxonid", "comp_chr", "comp_start_pos",
      "comp_end_pos", "same_orientation", "symbol"),
    "homolog" -> Seq("ref_gene_id", "ref_gene_sym", "ref_taxon_id",
      "ref_seq_id", "ref_start", "ref_end", "comp_gene_id", "comp_gene_sym",
      "comp_taxon_id", "comp_seq_id", "comp_start", "comp_end"),
    "on_terms" -> Seq("id", "name", "namespace", "def", "count"),
    "on_pairs" -> Seq("parent", "child", "relationship"),
    "gene_ontology_map" -> Seq("gene_id", "ontology_id", "taxonid"))

  /** Loader family → the tables it produces. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "genes_exons" -> Seq("gene", "exon"),
    "features" -> Seq("feature"),
    "cytobands" -> Seq("cytogenetic_band"),
    "variants" -> Seq("snp_variant"),
    "blocks" -> Seq("syntenic_block"),
    "homologs" -> Seq("homolog"),
    "ontology" -> Seq("on_terms", "on_pairs", "gene_ontology_map"))

  private def seqid(r: Random, c: Int): String = r.nextInt(100) match {
    case n if n < 2 => s"Chr$c"
    case n if n < 4 => s"CHR$c"
    case n if n < 50 => s"chr$c"
    case _ => c.toString
  }

  /** C1: replace-all, case-sensitive strip. */
  private def stripAll(s: String) = s.replace("chr", "")
  /** C2: anchored, case-insensitive strip. */
  private def stripAnchored(s: String) = s.replaceFirst("(?i)^chr", "")
  private def dotNull(s: String) = if (s == ".") null else s
  private def dbx(taxon: Int, i: Int) = f"GeneID:$taxon%d$i%06d"

  def generate(dir: Path, seed: Long, size: EtlSize): EtlData = {
    Files.createDirectories(dir)
    val tables = Columns.map { case (n, c) => n -> ModelTable(n, c) }
    val records = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val rejected = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var bytes = 0L
    def write(name: String, lines: Iterable[String]): String = {
      val p = dir.resolve(name)
      val text = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      Files.write(p, text)
      bytes += text.length
      p.toString
    }
    def rng(salt: Long) = new Random(seed * 1000003L + salt)

    // ---- genes + exons (GFF3), one file per species ----
    val genesWithDbx = mutable.Map.empty[Int, mutable.ArrayBuffer[Int]]
    val geneFiles = Taxa.map { taxon =>
      val r = rng(taxon + 1)
      val lines = mutable.ArrayBuffer("##gff-version 3")
      val withDbx = mutable.ArrayBuffer.empty[Int]
      for (i <- 0 until size.genes) {
        val c = 1 + r.nextInt(size.chromosomes)
        val sid = seqid(r, c)
        val len = 1000 + r.nextInt(50000)
        val start = 1 + r.nextInt(ChrLen - 100000)
        val end = start + len
        val strand = r.nextInt(50) match {
          case 0 => "."; case n if n % 2 == 0 => "+"; case _ => "-"
        }
        val hasDbx = r.nextInt(50) != 0
        val gtype = if (r.nextInt(10) == 0) "ncRNA_gene" else "gene"
        val attrs = s"ID=g$taxon-$i;" +
          (if (hasDbx) s"Dbxref=${dbx(taxon, i)},HGNC:$i;" else "") +
          s"Symbol=SYM$i;Name=GeneName$i"
        lines += s"$sid\tRefSeq\t$gtype\t$start\t$end\t.\t$strand\t.\t$attrs"
        records("genes_exons") += 1
        if (hasDbx) {
          withDbx += i
          tables("gene").add(dbx(taxon, i), taxon, s"SYM$i", stripAll(sid),
            start - 1L, end.toLong,
            strand match { case "+" => "1"; case "-" => "-1"; case _ => null },
            gtype, s"GeneName$i")
        } else rejected("genes_exons") += 1
        val nExons = 1 + r.nextInt(size.maxExons)
        val step = len / nExons
        for (j <- 0 until nExons) {
          val es = start + j * step
          val ee = es + step / 2
          lines += s"$sid\tRefSeq\texon\t$es\t$ee\t.\t$strand\t.\tID=e$taxon-$i-$j;Parent=g$taxon-$i"
          records("genes_exons") += 1
          if (hasDbx)
            tables("exon").add(s"e$taxon-$i-$j", dbx(taxon, i), taxon,
              stripAll(sid), es - 1L, ee.toLong)
          else rejected("genes_exons") += 1
        }
      }
      genesWithDbx(taxon) = withDbx
      Pipeline.SpeciesFile(write(s"genes_$taxon.gff3", lines), taxon)
    }

    // ---- features (hand-rolled GFF3) ----
    val allowedTypes = Seq("gene", "mRNA", "exon", "QTL", "lnc_RNA", "transgene")
    val blacklisted = Seq("CDS", "enhancer", "tRNA", "pseudogene", "match")
    val featureFiles = Taxa.map { taxon =>
      val r = rng(taxon + 2)
      val lines = mutable.ArrayBuffer("##gff-version 3")
      val seen = mutable.Set.empty[(String, String, String)]
      val replays = mutable.ArrayBuffer.empty[(String, (String, String, String), Boolean)]
      def emit(line: String, cols: Array[String], key: (String, String, String),
          blocked: Boolean): Unit = {
        lines += line
        records("features") += 1
        if (blocked || seen.contains(key)) rejected("features") += 1
        else { seen += key; tables("feature").rows += cols }
      }
      def featureRow(i: Int): Unit = {
        val ftype = if (r.nextInt(10) == 0) blacklisted(r.nextInt(blacklisted.size))
          else allowedTypes(r.nextInt(allowedTypes.size))
        val sid = seqid(r, 1 + r.nextInt(size.chromosomes))
        val source = if (r.nextInt(20) == 0) "." else Seq("MGI", "Ensembl", "NCBI")(r.nextInt(3))
        val start = 1 + r.nextInt(ChrLen - 100000)
        val end = start + 100 + r.nextInt(20000)
        val score = if (r.nextInt(4) == 0) (r.nextInt(1000) / 10.0).toString else "."
        val strand = Seq("+", "-", ".")(r.nextInt(3))
        val phase = if (r.nextInt(3) == 0) r.nextInt(3).toString else "."
        val name = s"${ftype}_n${r.nextInt(math.max(1, size.features / 4))}"
        val dbxref = if (r.nextInt(5) == 0) "." else s"MGI:$taxon$i"
        val bioType = if (r.nextBoolean()) Some("protein_coding") else None
        val status = if (r.nextInt(4) == 0) Some(".") else if (r.nextBoolean()) Some("active") else None
        val parent = if (r.nextInt(3) == 0) Some(s"F$taxon-${r.nextInt(size.features)}") else None
        val id = s"F$taxon-$i"
        val attrs = (Seq(s"ID=$id", s"Name=$name", s"Dbxref=$dbxref") ++
          bioType.map("bioType=" + _) ++ status.map("Status=" + _) ++
          parent.map("Parent=" + _)).mkString(";")
        val line = s"$sid\t$source\t$ftype\t$start\t$end\t$score\t$strand\t$phase\t$attrs"
        val cols = Array[Any](taxon, stripAnchored(sid), dotNull(source), ftype,
          start.toLong, end.toLong,
          if (score == ".") null else score.toDouble,
          dotNull(strand), if (phase == ".") null else phase.toInt,
          id, name, dotNull(dbxref), bioType.orNull,
          status.map(dotNull).orNull, parent.orNull)
          .map(v => if (v == null) null else v.toString)
        val key = (dotNull(source), id, dotNull(dbxref))
        val blocked = blacklisted.contains(ftype)
        emit(line, cols, key, blocked)
        // D3: a later row with the same (source, taxon, id, dbxref)
        // key is dropped (first wins)
        if (r.nextInt(33) == 0)
          replays += ((s"$sid\t$source\t$ftype\t${start + 7}\t$end\t$score\t$strand\t$phase\t$attrs",
            key, blocked))
      }
      for (i <- 0 until size.features) featureRow(i)
      replays.foreach { case (line, key, blocked) => emit(line, null, key, blocked) }
      Pipeline.SpeciesFile(write(s"features_$taxon.gff3", lines), taxon)
    }

    // ---- cytogenetic bands (GFF3) ----
    val colors = Seq("gneg", "gpos25", "gpos50", "acen")
    val bandFiles = Taxa.map { taxon =>
      val r = rng(taxon + 3)
      val lines = mutable.ArrayBuffer("##gff-version 3")
      for (c <- 1 to size.chromosomes; k <- 0 until size.bandsPerChr) {
        val step = ChrLen / size.bandsPerChr
        val sid = if (r.nextBoolean()) s"chr$c" else c.toString
        val id = s"band-$taxon-$c-$k"
        val loc = (if (k < size.bandsPerChr / 2) "p" else "q") + k
        val color = colors(r.nextInt(colors.size))
        val start = k * step + 1
        val end = (k + 1) * step
        lines += s"$sid\t.\tchromosome_band\t$start\t$end\t.\t.\t.\tID=$id;source=ISCN;Location=$loc;Color=$color"
        records("cytobands") += 1
        tables("cytogenetic_band").add(id, taxon, stripAll(sid), "ISCN",
          "chromosome_band", start.toLong, end.toLong, loc, color)
      }
      Pipeline.SpeciesFile(write(s"cytobands_$taxon.gff3", lines), taxon)
    }

    // ---- SNP variants (VCF) ----
    val bases = Seq("A", "C", "G", "T")
    val variantFiles = Taxa.map { taxon =>
      val r = rng(taxon + 4)
      val genes = genesWithDbx(taxon)
      val lines = mutable.ArrayBuffer("##fileformat=VCFv4.2",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")
      for (i <- 0 until size.snps) {
        val sid = seqid(r, 1 + r.nextInt(size.chromosomes))
        val pos = 1 + r.nextInt(ChrLen)
        val id = if (r.nextInt(10) == 0) "." else s"rs$taxon$i"
        val ref = bases(r.nextInt(4))
        val alt = r.nextInt(10) match {
          case 0 => "."; case 1 => "G,T"; case _ => bases(r.nextInt(4))
        }
        val qual = if (r.nextInt(10) == 0) "." else (r.nextInt(1000) / 10.0).toString
        val filter = if (r.nextInt(10) == 0) "." else "PASS"
        val cg =
          if (r.nextInt(100) < 3) Nil
          else Seq.fill(1 + (if (r.nextInt(5) == 0) 1 else 0))(
            dbx(taxon, genes(r.nextInt(genes.size)))).distinct
        val af = if (r.nextInt(10) == 0) None
          else Some(Seq.fill(1 + r.nextInt(2))((r.nextInt(1000) / 1000.0).toString))
        val lt = if (r.nextInt(3) == 0) Some(s"VT:${r.nextInt(500)}") else None
        val info = (Seq("DP=10") ++ (if (cg.nonEmpty) Seq("CG=" + cg.mkString(",")) else Nil) ++
          af.map(v => "AF=" + v.mkString(",")) ++ lt.map("LT=" + _)).mkString(";")
        lines += s"$sid\t$pos\t$id\t$ref\t$alt\t$qual\t$filter\t$info"
        records("variants") += 1
        if (cg.isEmpty) rejected("variants") += 1
        cg.foreach { g =>
          tables("snp_variant").add(stripAll(sid), pos.toLong, dotNull(id), ref,
            if (alt == ".") "" else alt.replace(",", "/"),
            if (qual == ".") null else qual.toDouble, dotNull(filter),
            af.map(_.head.toDouble).orNull, g, lt.orNull, taxon)
        }
      }
      Pipeline.SpeciesFile(write(s"variants_$taxon.vcf", lines), taxon)
    }

    // ---- syntenic blocks (positional TSV), ref 9606 against each other ----
    val blockFiles = Taxa.tail.map { comp =>
      val ref = Taxa.head
      val r = rng(comp + 5)
      val rows = mutable.ArrayBuffer.empty[Array[String]]
      for (i <- 0 until size.blocks) {
        val rs = 1 + i * 9000
        val cs = 1 + i * 8000 + r.nextInt(1000)
        rows += Array((1 + r.nextInt(size.chromosomes)).toString, ref.toString,
          rs.toString, (rs + 1000 + r.nextInt(7000)).toString,
          (1 + r.nextInt(size.chromosomes)).toString, comp.toString,
          cs.toString, (cs + 1000 + r.nextInt(6000)).toString,
          if (r.nextBoolean()) "+" else "-", s"ID=SynBlock$comp$i")
      }
      // D1: later rows reusing a (taxa, ref_chr, ref_start) key win
      val dups = rows.filter(_ => r.nextInt(33) == 0).zipWithIndex.map { case (row, k) =>
        val d = row.clone()
        val cs = 1 + (size.blocks + k) * 8000
        d(3) = (row(2).toInt + 500).toString
        d(6) = cs.toString; d(7) = (cs + 900).toString
        d
      }
      val all = rows ++ dups
      val winners = mutable.LinkedHashMap.empty[(String, String, String, String), Array[String]]
      all.foreach { f =>
        records("blocks") += 1
        val fwd = Array(f(1), f(0), f(2), f(3), f(5), f(4), f(6), f(7),
          (f(8) == "+").toString, f(9).stripPrefix("ID="))
        val rev = Array(f(5), f(4), f(6), f(7), f(1), f(0), f(2), f(3),
          (f(8) == "+").toString, f(9).stripPrefix("ID="))
        Seq(fwd, rev).foreach(b => winners((b(0), b(4), b(1), b(2))) = b)
      }
      rejected("blocks") += 2L * all.size - winners.size
      tables("syntenic_block").rows ++= winners.values
      write(s"blocks_${ref}_$comp.tsv", all.map(_.mkString("\t")))
    }

    // ---- homologs (header-validated TSV) ----
    val homologFiles = Taxa.tail.map { comp =>
      val ref = Taxa.head
      val r = rng(comp + 6)
      val header = HomologHeader.mkString("\t")
      val refGenes = genesWithDbx(ref)
      val rows = (0 until math.min(size.homologs, refGenes.size)).map { k =>
        val i = refGenes(k)
        val s1 = 1 + r.nextInt(ChrLen)
        val s2 = 1 + r.nextInt(ChrLen)
        Array(if (r.nextInt(20) == 0) "paralogue" else "orthologue",
          ref.toString, dbx(ref, i), s"SYM$i", seqid(r, 1 + r.nextInt(size.chromosomes)),
          s1.toString, (s1 + 5000).toString,
          comp.toString, dbx(comp, i), s"SYM$i", seqid(r, 1 + r.nextInt(size.chromosomes)),
          s2.toString, (s2 + 5000).toString)
      }
      // D1: a later row for the same gene pair replaces the earlier one
      val dups = rows.filter(_ => r.nextInt(33) == 0).map { row =>
        val d = row.clone(); d(3) = row(3) + "b"; d(6) = (row(6).toInt + 11).toString; d
      }
      val all = rows ++ dups
      val winners = mutable.LinkedHashMap.empty[(String, String, String, String), Array[String]]
      all.foreach { f =>
        records("homologs") += 1
        def side(n: Int) = Seq(f(2 + (n - 1) * 6), f(3 + (n - 1) * 6),
          f(1 + (n - 1) * 6), stripAnchored(f(4 + (n - 1) * 6)),
          f(5 + (n - 1) * 6), f(6 + (n - 1) * 6))
        val fwd = (side(1) ++ side(2)).toArray
        val rev = (side(2) ++ side(1)).toArray
        Seq(fwd, rev).foreach(h => winners((h(0), h(2), h(6), h(8))) = h)
      }
      rejected("homologs") += 2L * all.size - winners.size
      tables("homolog").rows ++= winners.values
      write(s"homologs_${ref}_$comp.tsv", header +: all.map(_.mkString("\t")))
    }

    // ---- ontologies (OBO) + GAF ----
    val liveTerms = mutable.ArrayBuffer.empty[String]
    val descendants = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    val oboFiles = Seq(("GO", size.goTerms, 7L), ("MP", size.mpTerms, 8L)).map {
      case (prefix, n, salt) =>
        val r = rng(salt)
        val ids = (0 until n).map(i => f"$prefix:$i%07d")
        val namespaces = Seq("biological_process", "molecular_function", "cellular_component")
        // obsolete terms are leaves among the newest tenth, as in GO
        val obsolete = (0 until n).filter(i => i >= n * 9 / 10 && r.nextInt(10) == 0).toSet
        val ancestors = new Array[Set[Int]](n)
        val nDesc = new Array[Int](n)
        val nsOf = new Array[String](n)
        val defOf = new Array[String](n)
        val lines = mutable.ArrayBuffer("format-version: 1.2", s"ontology: ${prefix.toLowerCase}", "")
        for (i <- 0 until n) {
          val parents =
            if (i < 3) Nil
            else {
              def pick(): Int = { var p = r.nextInt(i); while (obsolete(p)) p = r.nextInt(i); p }
              (pick() +: (if (r.nextInt(10) < 4) Seq(pick()) else Nil)).distinct
            }
          ancestors(i) = parents.foldLeft(Set.empty[Int])((acc, p) => acc ++ ancestors(p) + p)
          ancestors(i).foreach(a => nDesc(a) += 1)
          val ns = if (r.nextInt(50) == 0) null else namespaces(i % 3)
          val defn = if (r.nextInt(10) == 0) null else s""""Definition of term $i." [PMID:$i]"""
          nsOf(i) = ns; defOf(i) = defn
          lines += "[Term]"
          lines += s"id: ${ids(i)}"
          lines += s"name: $prefix term $i"
          if (ns != null) lines += s"namespace: $ns"
          if (defn != null) lines += s"def: $defn"
          parents.foreach(p => lines += s"is_a: ${ids(p)} ! $prefix term $p")
          records("ontology") += 1
          // is_a edges before the obsolete flag still count (reference)
          if (obsolete(i)) { lines += "is_obsolete: true"; rejected("ontology") += 1 }
          lines += ""
        }
        lines += "[Typedef]"
        lines += "id: part_of"
        lines += "name: part of"
        for (i <- 0 until n; a <- ancestors(i)) {
          tables("on_pairs").add(ids(a), ids(i), "is_a")
          descendants.getOrElseUpdate(ids(a), mutable.ArrayBuffer.empty) += ids(i)
        }
        for (i <- 0 until n if !obsolete(i)) {
          liveTerms += ids(i)
          tables("on_terms").add(ids(i), s"$prefix term $i", nsOf(i), defOf(i),
            if (nDesc(i) > 0) nDesc(i) else null)
        }
        write(s"${prefix.toLowerCase}.obo", lines)
    }

    val gafWinners = mutable.LinkedHashMap.empty[(String, String), Array[String]]
    val earlier = mutable.ArrayBuffer.empty[(String, String)]
    var gafKept = 0L
    val gafFiles = Taxa.map { taxon =>
      val r = rng(taxon + 9)
      val genes = genesWithDbx(taxon)
      val lines = mutable.ArrayBuffer("!gaf-version: 2.2", "!generated-by: graftbench")
      val mine = mutable.ArrayBuffer.empty[(String, String)]
      def row(gene: String, term: String, taxonField: String, keptTaxon: Option[Int]): Unit = {
        lines += Seq("NCBI", gene, "SYM", "enables", term, "PMID:1", "IEA",
          "UniProtKB:P1", "F", "gene name", "syn", "protein", taxonField,
          "20240101", "GO_Central", "-", "-").mkString("\t")
        records("ontology") += 1
        keptTaxon match {
          case Some(t) =>
            gafKept += 1
            gafWinners((gene, term)) = Array(gene, term, t.toString)
          case None => rejected("ontology") += 1
        }
      }
      for (_ <- 0 until size.gafRows) {
        val gene = dbx(taxon, genes(r.nextInt(genes.size)))
        val term = liveTerms(r.nextInt(liveTerms.size))
        r.nextInt(100) match {
          case n if n < 3 => row(gene, term, s"taxon:${Taxa.filterNot(_ == taxon).head}", None)
          case n if n < 6 => row(gene, term, s"taxon:1280|taxon:$taxon", None)
          case n if n < 10 => row(gene, term, s"taxon:$taxon|taxon:1280", Some(taxon))
          case _ => row(gene, term, s"taxon:$taxon", Some(taxon)); mine += ((gene, term))
        }
        // D1: exact repeats, and rows re-annotating an earlier file's
        // gene (the later file wins, taxon included)
        if (r.nextInt(33) == 0 && mine.nonEmpty) {
          val (g, t) = mine(r.nextInt(mine.size))
          row(g, t, s"taxon:$taxon", Some(taxon))
        }
        if (earlier.nonEmpty && r.nextInt(50) == 0) {
          val (g, t) = earlier(r.nextInt(earlier.size))
          row(g, t, s"taxon:$taxon", Some(taxon))
        }
      }
      earlier ++= mine
      (write(s"gaf_$taxon.gaf", lines), taxon)
    }
    rejected("ontology") += gafKept - gafWinners.size
    tables("gene_ontology_map").rows ++= gafWinners.values

    new EtlData(dir,
      Pipeline.Inputs(genes = geneFiles, blocks = blockFiles,
        cytobands = bandFiles, features = featureFiles,
        variants = variantFiles, obo = oboFiles, gaf = gafFiles,
        homologs = homologFiles),
      bytes, records.toMap, rejected.toMap, tables,
      descendants.map { case (k, v) => k -> v.toSeq }.toMap)
  }

  val HomologHeader: Seq[String] = Seq("type", "taxonid1", "id1", "symbol1",
    "seqid1", "start1", "end1", "taxonid2", "id2", "symbol2", "seqid2",
    "start2", "end2")
}
