package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A reported metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back: the end-to-end metrics (untraced run)
  * or per-layer metrics (traced run) that BENCHMARK.json declares, plus
  * the workload's own named metrics for the detail record.
  */
final case class Report(declared: Map[String, Metric], named: Map[String, Metric])

/** Peak heap retained after a full collection, sampled at operation
  * boundaries (outside timed regions). The second collection runs after
  * Spark's ContextCleaner has released the state the first one found
  * unreachable, so the sample is the live set rather than a snapshot of
  * cleanup in progress.
  */
final class HeapProbe {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}

object Measure {

  /** Repeats `op`, which returns its own timed seconds, over a
    * measuring window of `seconds`: at least `minOps` times, then once
    * more only while another iteration as long as the last still ends
    * inside the window. A faster program thus measures more operations
    * in the same window instead of running past it.
    */
  def window(seconds: Double, minOps: Int)(op: => Double): Seq[Double] = {
    val times = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var last = 0.0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (times.size < minOps || elapsed + last <= seconds) {
      val t0 = System.nanoTime()
      times += op
      last = (System.nanoTime() - t0) / 1e9
    }
    times.toSeq
  }
}

/** Everything a workload run needs. `work` is the run's private scratch
  * directory inside the checkout; it is deleted when the run ends.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Double, val trace: Boolean, val sessionStartS: Double) {
  val listener: Option[EngineListener] =
    if (trace) {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  val untraced = new Tracer(spark.sparkContext, enabled = false)
  val tracer = new Tracer(spark.sparkContext, enabled = true)
  val verdict = new Verdict
  val heap = new HeapProbe

  def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Progress note on standard error (never on the result stream). */
  def note(msg: String): Unit = System.err.println(s"graftbench: $msg")

  /** setup_s: session start, the median of `rounds` repetitions of the
    * input set-up, and the one-time warm-up.
    */
  def setupSeconds(rounds: Seq[Double], warmupS: Double): Double =
    sessionStartS + Stats.median(rounds) + warmupS

  def fresh(name: String): Path = {
    val p = work.resolve(name)
    deleteTree(p)
    Files.createDirectories(p.getParent)
    p
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytes(p: Path): (Long, Int) = {
    val s = Files.walk(p)
    try {
      var bytes = 0L
      var files = 0
      s.filter(f => Files.isRegularFile(f)).forEach { f =>
        val n = f.getFileName.toString
        if (!n.startsWith(".") && !n.startsWith("_")) {
          bytes += Files.size(f); files += 1
        }
      }
      (bytes, files)
    } finally s.close()
  }

  /** Engine metrics for traced operations, divided by `ops`: the
    * listener totals over the operations' span subtrees, plus the
    * driver residual (wall time outside any Spark job).
    */
  def engineMetrics(roots: Seq[Span], ops: Int): Map[String, Metric] = {
    val l = listener.getOrElse(sys.error("engine metrics need a traced run"))
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val ids = roots.flatMap(r => tracer.subtree(r.id)).toSet
    val t = l.totalsFor(ids)
    val residualS = roots.map { r =>
      val jobsMs = l.jobIntervalsMs(tracer.subtree(r.id))
      r.durationNs / 1e9 - Stats.unionLength(jobsMs) / 1e3
    }.sum
    def per(v: Double) = v / math.max(ops, 1)
    Map(
      "spark.jobs" -> Metric(per(t.jobs), "count"),
      "spark.stages" -> Metric(per(t.stages), "count"),
      "spark.tasks" -> Metric(per(t.tasks), "count"),
      "spark.executor_run_s" -> Metric(per(t.executorRunNs / 1e9), "s"),
      "spark.executor_cpu_s" -> Metric(per(t.executorCpuNs / 1e9), "s"),
      "spark.gc_s" -> Metric(per(t.gcNs / 1e9), "s"),
      "spark.task_deser_s" -> Metric(per(t.taskDeserNs / 1e9), "s"),
      "spark.scheduler_delay_s" -> Metric(per(t.schedulerDelayNs / 1e9), "s"),
      "spark.shuffle_write_bytes" -> Metric(per(t.shuffleWriteBytes), "B"),
      "spark.shuffle_read_bytes" -> Metric(per(t.shuffleReadBytes), "B"),
      "spark.spill_bytes" -> Metric(per(t.spillBytes), "B"),
      "spark.input_bytes" -> Metric(per(t.inputBytes), "B"),
      "spark.input_records" -> Metric(per(t.inputRecords), "count"),
      "spark.output_bytes" -> Metric(per(t.outputBytes), "B"),
      "driver.residual_s" -> Metric(per(residualS), "s"))
  }

  /** The per-layer metrics every workload's traced run reports. */
  def declaredLayers(roots: Seq[Span], untracedS: Double,
      tracedS: Double): Map[String, Metric] = {
    val ops = roots.size
    val planningMs = spanSeconds("plans.plan") * 1000 / ops
    val opMs = roots.map(_.durationNs / 1e6).sum / ops
    val operators = tracer.all.filter(_.layer == "operators")
      .map(s => tracer.selfNs(s) / 1e9).sum / ops
    engineMetrics(roots, ops) ++ Map(
      "plans.planning_ms" -> Metric(planningMs, "ms"),
      "plans.planning_share" -> Metric(planningMs / opMs, "ratio"),
      "operators.self_s" -> Metric(operators, "s"),
      "trace.overhead_pct" -> Metric((tracedS - untracedS) / untracedS * 100, "%"))
  }

  /** Sum of durations (or self times) of traced spans named `name`. */
  def spanSeconds(name: String, self: Boolean = false): Double =
    tracer.all.filter(_.name == name)
      .map(s => (if (self) tracer.selfNs(s) else s.durationNs) / 1e9).sum

  def spanCount(name: String, key: String): Double =
    tracer.all.filter(_.name == name).map(_.counts.getOrElse(key, 0.0)).sum

  /** Persist and materialize — the boundary forcing a traced run uses so
    * a lazy call's work lands in its own span.
    */
  def force(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }
}

trait Workload {
  def run(ctx: Ctx): Report
}

object Main {
  /** Reported metrics that go to the detail record, not the result:
    * spill is 0 at the benchmark's input sizes, so it is not declared.
    */
  private val DetailOnly = Set("spark.spill_bytes")

  val Workloads: Map[String, Workload] = Map(
    "etl_load" -> EtlLoad,
    "curation_dedup" -> CurationDedup)

  private def usage(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg")
    System.err.println("usage: graftbench.Main --workload <" +
      Workloads.keys.toSeq.sorted.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> --root <checkout>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workloadName = opts.getOrElse("--workload", usage("missing --workload"))
    val workload = Workloads.getOrElse(workloadName, usage(s"unknown workload $workloadName"))
    val seed = opts.get("--seed").flatMap(_.toLongOption).getOrElse(usage("bad --seed"))
    val seconds = opts.get("--seconds").flatMap(_.toDoubleOption).filter(_ > 0)
      .getOrElse(usage("bad --seconds"))
    val trace = opts.get("--trace") match {
      case Some("0") => false
      case Some("1") => true
      case _ => usage("--trace must be 0 or 1")
    }
    val root = java.nio.file.Paths.get(opts.getOrElse("--root", ".")).toAbsolutePath.normalize
    val work = root.resolve(".bench_build").resolve("run")
      .resolve(s"$workloadName-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val nproc = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = graft.SessionTuning.scaleAdaptive(SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, work, seed, seconds, trace, (System.nanoTime() - t0) / 1e9)
    val ok =
      try {
        val full = workload.run(ctx)
        val report = Report(full.declared -- DetailOnly,
          full.named ++ full.declared.filter { case (k, _) => DetailOnly(k) })
        val v = ctx.verdict
        val machine = machineRecord(spark, nproc, root)
        val named = metricsJson(report.named + ("fail_ratio" -> Metric(v.failRatio, "ratio")))
        val problems = v.problems.map(Json.str).mkString("[", ",", "]")
        println(s"""{"detail":{"workload":${Json.str(workloadName)},"seed":$seed,""" +
          s""""trace":$trace,"machine":$machine,"problems":$problems,"metrics":$named}}""")
        if (trace) {
          val tracesDir = root.resolve(".bench_build").resolve("traces")
          Files.createDirectories(tracesDir)
          val f = tracesDir.resolve(s"$workloadName-seed$seed.jsonl")
          Files.write(f, ctx.tracer.jsonLines.mkString("", "\n", "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(s"graftbench: spans written to $f")
        }
        println(s"""{"correct":${v.correct},"attempted":${v.attempted},""" +
          s""""failed":${v.failed},"metrics":${metricsJson(report.declared)}}""")
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"graftbench: $workloadName failed")
          e.printStackTrace()
          false
      } finally {
        spark.stop()
        ctx.deleteTree(work)
      }
    if (!ok) sys.exit(1)
  }

  private def metricsJson(ms: Map[String, Metric]): String =
    ms.toSeq.sortBy(_._1).map { case (k, m) =>
      s"""${Json.str(k)}:{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}"""
    }.mkString("{", ",", "}")

  /** Paths in the record are relative to the checkout root. */
  private def machineRecord(spark: SparkSession, nproc: Int, root: Path): String = {
    val confKeys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.session.timeZone", "spark.local.dir")
    def shown(v: String) =
      if (v.startsWith(root.toString + "/")) root.relativize(java.nio.file.Paths.get(v)).toString
      else v
    val confs = confKeys.map(k =>
      s"${Json.str(k)}:${Json.str(shown(spark.conf.getOption(k).getOrElse("")))}")
      .mkString("{", ",", "}")
    s"""{"nproc":$nproc,"heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""spark":${Json.str(spark.version)},"jdk":${Json.str(System.getProperty("java.version"))},""" +
      s""""os":${Json.str(System.getProperty("os.name") + " " + System.getProperty("os.version"))},""" +
      s""""confs":$confs}"""
  }
}
