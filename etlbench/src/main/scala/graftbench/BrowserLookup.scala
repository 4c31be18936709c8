package graftbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.IntervalJoin

/** One browser lookup: the query it runs and the answer the generator's
  * model predicts (rendered rows, sorted).
  */
final case class Lookup(shape: String, query: () => DataFrame,
    expected: Seq[String], intervalJoin: Boolean = false)

/** The browser's read path: a seeded mix of the lookups the reference's
  * 18 indexes serve, over the tables an `etl_load` run has just
  * written. Keys come from a small hot subset half the time and
  * uniformly otherwise. Each answer is checked against the model's.
  */
object BrowserLookup {

  val Shapes: Seq[String] = Seq("gene_by_symbol", "genes_in_range",
    "exons_of_gene", "blocks_in_range", "homologs_of_gene", "snps_in_range",
    "cytobands_in_range", "features_by_type_name", "term_expansion")

  private val HotKeys = 8

  def render(r: Row): String =
    Digest.renderRow(r.toSeq.map(v => if (v == null) null else v.toString))

  /** The lookup stream for `seed` over tables opened from `dir`. */
  def lookups(ctx: Ctx, data: EtlData, dir: String, seed: Long): Iterator[Lookup] = {
    val spark = ctx.spark
    def open(t: String) = spark.read.parquet(s"$dir/$t")
    val gene = open("gene"); val exon = open("exon"); val block = open("syntenic_block")
    val homolog = open("homolog"); val snp = open("snp_variant")
    val band = open("cytogenetic_band"); val feature = open("feature")
    val pairs = open("on_pairs"); val gom = open("gene_ontology_map")

    final class T(name: String) {
      val m: ModelTable = data.tables(name)
      private val idx = m.columns.zipWithIndex.toMap
      def apply(row: Array[String], c: String): String = row(idx(c))
      def long(row: Array[String], c: String): Long = row(idx(c)).toLong
      def select(rows: Iterable[Array[String]], cols: String*): Seq[String] =
        rows.map(r => Digest.renderRow(cols.map(apply(r, _)))).toSeq.sorted
    }
    val G = new T("gene"); val E = new T("exon"); val B = new T("syntenic_block")
    val H = new T("homolog"); val S = new T("snp_variant"); val C = new T("cytogenetic_band")
    val F = new T("feature"); val M = new T("gene_ontology_map"); val O = new T("on_terms")

    val byTaxonChr = mutable.Map.empty[(String, String, String), mutable.ArrayBuffer[Array[String]]]
    def group(t: T, taxonCol: String, chrCol: String) =
      t.m.rows.foreach(r => byTaxonChr.getOrElseUpdate(
        (t.m.name, t(r, taxonCol), t(r, chrCol)), mutable.ArrayBuffer.empty) += r)
    group(G, "gene_taxonid", "gene_chr"); group(B, "ref_taxonid", "ref_chr")
    group(S, "taxon_id", "chr"); group(C, "taxon_id", "chr")
    def onChr(t: T, taxon: String, chr: String) =
      byTaxonChr.getOrElse((t.m.name, taxon, chr), mutable.ArrayBuffer.empty)
    val exonsOf = E.m.rows.groupBy(r => (E(r, "taxonid"), E(r, "parent_gene")))
    val homologsOf = H.m.rows.groupBy(r => (H(r, "ref_taxon_id"), H(r, "ref_gene_id")))
    val featuresOf = F.m.rows.groupBy(r => (F(r, "taxon_id"), F(r, "type"), F(r, "name")))
    val genesOf = G.m.rows.groupBy(r => (G(r, "gene_taxonid"), G(r, "gene_symbol")))
    val annotated = M.m.rows.groupBy(r => M(r, "ontology_id"))

    val r = new Random(seed * 7919L + 17)
    def pool[K](rows: Seq[K]): () => K = {
      val hot = Seq.fill(HotKeys)(rows(r.nextInt(rows.size)))
      () => if (r.nextBoolean()) hot(r.nextInt(hot.size)) else rows(r.nextInt(rows.size))
    }
    val genes = pool(G.m.rows.toSeq); val blocks = pool(B.m.rows.toSeq)
    val homologs = pool(H.m.rows.toSeq); val snps = pool(S.m.rows.toSeq)
    val bands = pool(C.m.rows.toSeq); val features = pool(F.m.rows.toSeq)
    val terms = pool(O.m.rows.toSeq.map(O(_, "id")))

    def make(shape: String): Lookup = shape match {
      case "gene_by_symbol" =>
        val g = genes(); val t = G(g, "gene_taxonid"); val s = G(g, "gene_symbol")
        Lookup(shape, () => gene.filter(col("gene_taxonid") === t.toInt && col("gene_symbol") === s)
          .select("gene_id", "gene_chr", "gene_start_pos", "gene_end_pos"),
          G.select(genesOf((t, s)), "gene_id", "gene_chr", "gene_start_pos", "gene_end_pos"))
      case "genes_in_range" =>
        val g = genes(); val t = G(g, "gene_taxonid"); val c = G(g, "gene_chr")
        val s = G.long(g, "gene_start_pos"); val e = s + 2000000L
        Lookup(shape, () => gene.filter(col("gene_taxonid") === t.toInt && col("gene_chr") === c &&
            col("gene_start_pos") <= e && col("gene_end_pos") >= s)
          .select("gene_id", "gene_start_pos", "gene_end_pos"),
          G.select(onChr(G, t, c).filter(x => G.long(x, "gene_start_pos") <= e &&
            G.long(x, "gene_end_pos") >= s), "gene_id", "gene_start_pos", "gene_end_pos"))
      case "exons_of_gene" =>
        val g = genes(); val t = G(g, "gene_taxonid"); val id = G(g, "gene_id")
        Lookup(shape, () => exon.filter(col("taxonid") === t.toInt && col("parent_gene") === id)
          .select("exon_id", "exon_start_pos", "exon_end_pos"),
          E.select(exonsOf.getOrElse((t, id), Nil), "exon_id", "exon_start_pos", "exon_end_pos"))
      case "blocks_in_range" =>
        val b = blocks(); val t = B(b, "ref_taxonid"); val c = B(b, "ref_chr")
        val s = B.long(b, "ref_start_pos") - 20000L; val e = s + 100000L
        Lookup(shape, () => {
          val q = spark.range(1).select(lit(t.toInt).as("ref_taxonid"), lit(c).as("ref_chr"),
            lit(s).as("q_start"), lit(e).as("q_end"))
          IntervalJoin.naive(q, block, Seq("ref_taxonid", "ref_chr"),
            "q_start", "q_end", "ref_start_pos", "ref_end_pos")
            .select("symbol", "comp_taxonid", "ref_start_pos", "ref_end_pos")
        }, B.select(onChr(B, t, c).filter(x => s <= B.long(x, "ref_end_pos") &&
            B.long(x, "ref_start_pos") <= e), "symbol", "comp_taxonid", "ref_start_pos", "ref_end_pos"),
          intervalJoin = true)
      case "homologs_of_gene" =>
        val h = homologs(); val t = H(h, "ref_taxon_id"); val id = H(h, "ref_gene_id")
        Lookup(shape, () => homolog.filter(col("ref_taxon_id") === t.toInt && col("ref_gene_id") === id)
          .select("comp_gene_id", "comp_taxon_id", "comp_gene_sym"),
          H.select(homologsOf((t, id)), "comp_gene_id", "comp_taxon_id", "comp_gene_sym"))
      case "snps_in_range" =>
        val v = snps(); val t = S(v, "taxon_id"); val c = S(v, "chr")
        val s = S.long(v, "pos") - 50000L; val e = s + 100000L
        Lookup(shape, () => snp.filter(col("taxon_id") === t.toInt && col("chr") === c &&
            col("pos").between(s, e)).select("pos", "id", "gene", "alt_allele"),
          S.select(onChr(S, t, c).filter { x => val p = S.long(x, "pos"); p >= s && p <= e },
            "pos", "id", "gene", "alt_allele"))
      case "cytobands_in_range" =>
        val b = bands(); val t = C(b, "taxon_id"); val c = C(b, "chr")
        val s = C.long(b, "start"); val e = s + 3000000L
        Lookup(shape, () => band.filter(col("taxon_id") === t.toInt && col("chr") === c &&
            col("start") <= e && col("end") >= s).select("id", "start", "end"),
          C.select(onChr(C, t, c).filter(x => C.long(x, "start") <= e && C.long(x, "end") >= s),
            "id", "start", "end"))
      case "features_by_type_name" =>
        val f = features(); val key = (F(f, "taxon_id"), F(f, "type"), F(f, "name"))
        Lookup(shape, () => feature.filter(col("taxon_id") === key._1.toInt &&
            col("type") === key._2 && col("name") === key._3).select("id", "seq_id", "start", "end"),
          F.select(featuresOf(key), "id", "seq_id", "start", "end"))
      case "term_expansion" =>
        val term = terms()
        val expanded = (term +: data.descendants.getOrElse(term, Nil)).toSet
        Lookup(shape, () => {
          val ids = pairs.filter(col("parent") === term).select(col("child").as("ontology_id"))
            .union(spark.range(1).select(lit(term).as("ontology_id")))
          gom.join(ids, "ontology_id").select("gene_id").distinct()
        }, expanded.toSeq.flatMap(annotated.getOrElse(_, Nil)).map(M(_, "gene_id"))
          .distinct.map(g => Digest.renderRow(Seq(g))).sorted)
    }
    // every shape once per round, in a seeded order
    Iterator.continually(r.shuffle(Shapes)).flatten.map(make)
  }

  def check(l: Lookup, rows: Array[Row]): Seq[String] = {
    val got = rows.toSeq.map(render).sorted
    if (got == l.expected) Nil
    else Seq(s"${l.shape}: ${got.size} rows, model has ${l.expected.size}")
  }

  /** `n` lookups from `stream`, each a root span `lookup.<shape>` whose
    * plan is forced in a `plans.plan` child before execution; the
    * interval-join shape also nests an `operators.interval_join` span.
    * Returns the root spans and the per-shape p50 latencies.
    */
  def traced(ctx: Ctx, stream: Iterator[Lookup], n: Int): (Seq[Span], Map[String, Metric]) = {
    val tr = ctx.tracer
    val spans = (1 to n).map { _ =>
      val l = stream.next()
      def exec(): Array[Row] = {
        val df = l.query()
        tr.span("plans.plan", "plans")(df.queryExecution.executedPlan)
        df.collect()
      }
      val (rows, span) = tr.spanCounted(s"lookup.${l.shape}", "lookup")(
        if (l.intervalJoin) tr.span("operators.interval_join", "operators")(exec()) else exec(),
        (rs: Array[Row]) => Map("rows" -> rs.length.toDouble))
      ctx.verdict.record(check(l, rows))
      (l.shape, span)
    }
    ctx.heap.sample()
    val roots = spans.map(_._2)
    val perShape = spans.groupBy(_._1).map { case (shape, xs) =>
      s"lookup.$shape.p50_ms" -> Metric(Stats.median(xs.map(_._2.durationNs / 1e6)), "ms")
    }
    val ij = roots.filter(_.name == "lookup.blocks_in_range")
    (roots, perShape ++ Map(
      "operators.interval_join.s" -> Metric(
        ctx.tracer.all.filter(_.name == "operators.interval_join").map(_.durationNs / 1e9).sum /
          math.max(ij.size, 1), "s")))
  }

  /** The browser's read path over tables a load just wrote in `dir`:
    * `n` untraced lookups (median latency) then `n` traced ones
    * (per-shape latency, planning, rows scanned per row returned).
    * A p95 needs 200 samples (ten beyond it), more than a traced
    * `etl_load` run takes, so none is reported.
    */
  def overTables(ctx: Ctx, data: EtlData, dir: String, n: Int): Map[String, Metric] = {
    val stream = lookups(ctx, data, dir, ctx.seed)
    stream.take(Shapes.size).foreach(l => l.query().collect())
    val ms = (1 to n).map { _ =>
      val l = stream.next()
      val t0 = System.nanoTime()
      val rows = l.query().collect()
      val dt = ctx.elapsedSince(t0) * 1000
      ctx.verdict.record(check(l, rows))
      dt
    }
    val (roots, named) = traced(ctx, stream, n)
    val l = ctx.listener.get
    org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
    val t = l.totalsFor(roots.flatMap(r => ctx.tracer.subtree(r.id)).toSet)
    named ++ Map(
      "lookup_p50_ms" -> Metric(Stats.median(ms), "ms"),
      "lookup.samples" -> Metric(ms.size, "count"),
      "lookup.input_bytes" -> Metric(t.inputBytes.toDouble / roots.size, "B"),
      "lookup.rows_scanned_per_row_returned" -> Metric(
        t.inputRecords.toDouble / math.max(roots.map(_.counts("rows")).sum, 1), "ratio"),
      "lookup.plans.planning_ms" -> Metric(
        ctx.tracer.all.filter(s => s.name == "plans.plan" &&
          roots.exists(r => ctx.tracer.subtree(r.id).contains(s.id)))
          .map(_.durationNs / 1e6).sum / roots.size, "ms"),
      "lookup.plans.planning_share" -> Metric(
        ctx.tracer.all.filter(s => s.name == "plans.plan" &&
          roots.exists(r => ctx.tracer.subtree(r.id).contains(s.id)))
          .map(_.durationNs.toDouble).sum / roots.map(_.durationNs.toDouble).sum, "ratio"))
  }
}
