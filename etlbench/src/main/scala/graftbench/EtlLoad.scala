package graftbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.Pipeline
import graft.operators.{Closure, Dedup}
import graft.sources.{Gff3, Obo}

/** `etl_load`: the paper's own workload — `Pipeline.run` then
  * `Pipeline.writeObserved` of all ten tables into a fresh directory.
  * One operation is one full load; it is correct when every table's
  * written row count and content digest equal the generator's model.
  */
object EtlLoad extends Workload {

  val Size: EtlSize = EtlSize(genes = 800, maxExons = 7, features = 800,
    bandsPerChr = 20, snps = 5000, blocks = 150, homologs = 500,
    goTerms = 1000, mpTerms = 400, gafRows = 1500)

  private val SetupRounds = 3
  private val MinOps = 2
  // The warm-up load runs on inputs this share of `Size`: a load's
  // one-time cost (class loading, code generation, JIT) barely depends
  // on input size, and a full-size warm-up would cost a whole load more.
  private val WarmupScale = 0.05
  private val TracedLookups = 36

  /** Generates the inputs `SetupRounds` times into fresh directories and
    * keeps the last; returns it with the per-round times.
    */
  private def setUp(ctx: Ctx, size: EtlSize): (EtlData, Seq[Double]) = {
    var data: EtlData = null
    val rounds = (1 to SetupRounds).map { k =>
      val t0 = System.nanoTime()
      data = EtlGen.generate(ctx.fresh(s"inputs-$k"), ctx.seed, size)
      ctx.elapsedSince(t0)
    }
    (data, rounds)
  }

  /** Expected (rows, digest) per table. */
  def expectedDigests(data: EtlData): Map[String, Digest.Value] =
    data.tables.map { case (n, t) => n -> Digest.ofModel(t) }

  /** Mismatches between a written output directory and the model. */
  def check(ctx: Ctx, out: Path, written: Map[String, Long],
      expected: Map[String, Digest.Value]): Seq[String] = {
    val tables = EtlGen.Columns.keys.toSeq.sorted
    val got = Digest.ofFrames(tables.map(t =>
      (t, ctx.spark.read.parquet(out.resolve(t).toString), EtlGen.Columns(t))))
    tables.flatMap { t =>
      val want = expected(t)
      (if (!written.get(t).contains(want.rows))
        Seq(s"$t: wrote ${written.get(t)} rows, model has ${want.rows}") else Nil) ++
        (if (got(t) != want) Seq(s"$t: digest ${got(t)} != model $want") else Nil)
    }
  }

  private def load(data: EtlData, ctx: Ctx, out: Path): Map[String, Long] =
    Pipeline.writeObserved(Pipeline.run(ctx.spark, data.inputs), out.toString)

  def run(ctx: Ctx): Report = {
    val (data, rounds) = setUp(ctx, Size)
    val expected = expectedDigests(data)
    val tw = System.nanoTime()
    load(EtlGen.generate(ctx.fresh("inputs-warmup"), ctx.seed, Size.scaled(WarmupScale)),
      ctx, ctx.fresh("out-warmup"))
    val warmup = ctx.elapsedSince(tw)
    ctx.note(f"set-up rounds ${rounds.map(r => f"$r%.2f").mkString(",")} s, warm-up load $warmup%.2f s")
    ctx.deleteTree(ctx.work.resolve("out-warmup"))

    var outBytes = 0L
    var k = 0
    // one load, timed alone; its output is checked and removed afterwards
    def untracedOp(): Double = {
      val out = ctx.fresh(s"out-$k"); k += 1
      val t0 = System.nanoTime()
      val written =
        try Right(load(data, ctx, out)) catch { case e: Exception => Left(e) }
      val dt = ctx.elapsedSince(t0)
      val tc = System.nanoTime()
      ctx.verdict.record(written match {
        case Right(w) =>
          outBytes = ctx.treeBytes(out)._1
          check(ctx, out, w, expected)
        case Left(e) => Seq(s"load threw ${e.getMessage}")
      })
      ctx.deleteTree(out)
      ctx.heap.sample()
      ctx.note(f"load $k: $dt%.3f s, then check ${ctx.elapsedSince(tc)}%.2f s")
      dt
    }
    val mb = data.inputBytes / 1e6
    if (!ctx.trace) {
      val times = Measure.window(ctx.seconds, MinOps)(untracedOp())
      val p50 = Stats.median(times)
      Report(
        Map("setup_s" -> Metric(ctx.setupSeconds(rounds, warmup), "s"),
          "op_p50_ms" -> Metric(p50 * 1000, "ms"),
          "heap_peak_mb" -> Metric(ctx.heap.peakMb, "MB")),
        Map("etl_input_mb_per_s" -> Metric(mb / p50, "MB/s"),
          "etl_out_bytes_per_in_byte" -> Metric(outBytes.toDouble / data.inputBytes, "ratio"),
          "input_mb" -> Metric(mb, "MB"),
          "ops" -> Metric(times.size, "count")))
    } else {
      val untracedS = untracedOp()
      val roots = Seq(tracedOp(ctx, data, expected, "out-t"))
      val tracedS = Stats.median(roots.map(_.durationNs / 1e9))
      val generic = ctx.declaredLayers(roots, untracedS, tracedS)
      val layers = layerMetrics(ctx, data, roots)
      // the read side of the layout just written: browser lookups
      val lookups = BrowserLookup.overTables(ctx, data,
        ctx.work.resolve("out-t").toString, TracedLookups)
      ctx.deleteTree(ctx.work.resolve("out-t"))
      Report(generic, layers ++ lookups)
    }
  }

  private val gafSchema = StructType((0 until 17).map(i => StructField(s"c$i", StringType)))

  /** One load with every public call in its own span, each call's output
    * forced at its boundary so lazy work lands in the span that built it.
    */
  private def tracedOp(ctx: Ctx, data: EtlData,
      expected: Map[String, Digest.Value], outName: String): Span = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val in = data.inputs
    // operator inputs, materialized before the operation so their
    // parse does not count as operator time
    val gafRows = in.gaf.zipWithIndex.map { case ((p, _), i) =>
      spark.read.option("sep", "\t").option("comment", "!").schema(gafSchema).csv(p)
        .select(trim(col("c1")).as("gene_id"), trim(col("c4")).as("ontology_id"),
          (lit(i.toLong) * 1000000000000L + monotonically_increasing_id()).as("__ord"))
    }.reduce(_ unionByName _)
    val (gaf, _) = ctx.force(gafRows)
    val out = ctx.fresh(outName)
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): Long = { val (p, n) = ctx.force(df); persisted += p; n }

    val (written, root) = tr.spanCounted("etl_load", "workload")({
      val tables = tr.span("etl.run", "etl") { Pipeline.run(spark, in) }
      val forced = mutable.Map.empty[String, DataFrame]
      EtlGen.Families.foreach { case (family, names) =>
        tr.spanCounted(s"etl.$family", "etl")({
          val gffs = family match {
            case "genes_exons" => in.genes.map(_.path)
            case "features" => in.features.map(_.path)
            case "cytobands" => in.cytobands.map(_.path)
            case _ => Nil
          }
          gffs.foreach { p =>
            tr.spanCounted("sources.gff3", "sources")(keep(Gff3.read(spark, p)),
              (n: Long) => Map("rows" -> n.toDouble,
                "bytes" -> java.nio.file.Files.size(java.nio.file.Paths.get(p)).toDouble))
          }
          names.map { t =>
            tr.span("plans.plan", "plans")(tables(t).queryExecution.executedPlan)
            val p = tables(t).persist()
            persisted += p
            forced(t) = p
            p.count()
          }.sum
        }, (n: Long) => Map("rows_out" -> n.toDouble))
      }
      val events = in.obo.map { p =>
        val ((ev, _), _) = tr.spanCounted("sources.obo", "sources")({
          val e = Obo.read(spark, p).toDF().persist()
          persisted += e
          (e, e.count())
        }, (r: (DataFrame, Long)) => Map("rows" -> r._2.toDouble,
          "bytes" -> java.nio.file.Files.size(java.nio.file.Paths.get(p)).toDouble))
        ev
      }.reduce(_ union _)
      tr.spanCounted("operators.closure", "operators")(
        Closure.transitiveClosure(
          events.filter(col("kind") === "isa").select(col("parent"), col("id").as("child")),
          "parent", "child").count(),
        (n: Long) => Map("pairs" -> n.toDouble))
      tr.span("operators.dedup_lastwins", "operators") {
        Dedup.lastWins(gaf, Seq("gene_id", "ontology_id"), Seq(col("__ord"))).count()
      }
      val written = tr.span("write", "etl") {
        EtlGen.Columns.keys.toSeq.sorted.flatMap { t =>
          tr.spanCounted(s"write.$t", "write")(
            Pipeline.writeObserved(Map(t -> forced(t)), out.toString),
            (_: Map[String, Long]) => {
              val (b, f) = ctx.treeBytes(out.resolve(t))
              Map("bytes" -> b.toDouble, "files" -> f.toDouble)
            })._1
        }.toMap
      }
      written
    })
    ctx.verdict.record(check(ctx, out, written, expected))
    persisted.foreach(_.unpersist(blocking = true))
    gaf.unpersist(blocking = true)
    ctx.heap.sample()
    root
  }

  private def layerMetrics(ctx: Ctx, data: EtlData, roots: Seq[Span]): Map[String, Metric] = {
    val ops = roots.size.toDouble
    def s(name: String, self: Boolean = false) = ctx.spanSeconds(name, self) / ops
    def c(name: String, key: String) = ctx.spanCount(name, key) / ops
    val l = ctx.listener.get
    val runSpans = ctx.tracer.all.filter(_.name == "etl.run").map(_.id).toSet
    val srcS = s("sources.gff3") + s("sources.obo")
    val srcBytes = c("sources.gff3", "bytes") + c("sources.obo", "bytes")
    val families = EtlGen.Families.flatMap { case (f, _) =>
      Seq(s"etl.$f.self_s" -> Metric(s(s"etl.$f", self = true), "s"),
        s"etl.$f.rows_in" -> Metric(data.inputRecords.getOrElse(f, 0L).toDouble, "count"),
        s"etl.$f.rows_out" -> Metric(c(s"etl.$f", "rows_out"), "count"),
        s"etl.$f.rows_rejected" -> Metric(data.rejected.getOrElse(f, 0L).toDouble, "count"))
    }
    val writes = EtlGen.Columns.keys.toSeq.sorted.flatMap { t =>
      Seq(s"write.$t.s" -> Metric(s(s"write.$t"), "s"),
        s"write.$t.bytes" -> Metric(c(s"write.$t", "bytes"), "B"))
    }
    (families ++ writes ++ Seq(
      "sources.gff3.s" -> Metric(s("sources.gff3"), "s"),
      "sources.obo.s" -> Metric(s("sources.obo"), "s"),
      "sources.rows" -> Metric(c("sources.gff3", "rows") + c("sources.obo", "rows"), "count"),
      "sources.mb_per_s" -> Metric(srcBytes / 1e6 / srcS, "MB/s"),
      "etl.run_s" -> Metric(s("etl.run"), "s"),
      "etl.eager_jobs" -> Metric(l.totalsFor(runSpans).jobs / ops, "count"),
      "write.files" -> Metric(EtlGen.Columns.keys.toSeq.map(t => c(s"write.$t", "files")).sum, "count"),
      "operators.dedup_lastwins.s" -> Metric(s("operators.dedup_lastwins"), "s"),
      "operators.closure.s" -> Metric(s("operators.closure"), "s"),
      "operators.closure.pairs" -> Metric(c("operators.closure", "pairs"), "count"),
      "etl.op_s" -> Metric(roots.map(_.durationNs / 1e9).sum / ops, "s"))).toMap
  }
}
