package graft

import java.nio.file.{Files, Paths}

import graft.queries.Registry

/** Writes the formatted physical plan of each headline query to a
  * repo-committed artifact (`bench/plans_headline.txt`) so plan
  * quality — pushed filters, pruned schemas, broadcast vs shuffle
  * joins, whole-stage-codegen spans, the custom operators — is
  * reviewable as text without running anything.
  *
  * Usage: `sbt "runMain graft.PlanDump [outPath] [nameFragment,...]"`
  * (defaults: bench/plans_headline.txt, the `bench = true` headline
  * set).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("bench/plans_headline.txt")
    val only = args.drop(1).headOption
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SessionTuning.builder(4, "plandump").getOrCreate()
    spark.conf.set("spark.sql.maxMetadataStringLength", "200")
    // streaming impls drive the query to completion and hand back the
    // memory-sink table, whose plan is a trivial scan — exclude them
    // from the default set (their operator graphs are pinned by
    // StreamingSpec instead)
    val selected = Registry.all.toSeq.sortBy(_._1).filter { case (n, q) =>
      only.map(_.exists(n.contains))
        .getOrElse(q.bench && !n.contains("stream")) }
    val sb = new StringBuilder
    sb.append(s"# Formatted physical plans — headline queries at $sfDir\n")
    sb.append("# (regenerate: sbt \"runMain graft.PlanDump\")\n")
    selected.foreach { case (name, q) =>
      sb.append(s"\n===== $name =====\n")
      // Capture EAGERLY-EXECUTED subplans (calibration sweeps, guard
      // probes) that run during impl construction and therefore never
      // appear in the final plan below (VERDICT r21 plan-evidence gap).
      val eager = new StringBuilder
      PlanProbe.install { (label, edf) =>
        eager.append(s"\n--- eager subplan: $label ---\n")
        eager.append(edf.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)): Unit
      }
      try {
        val df = q.impl(spark, sfDir)
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        sb.append(eager)
      } catch {
        case e: Throwable =>
          sb.append(s"(plan unavailable: ${e.getClass.getSimpleName}: ${e.getMessage})\n")
      } finally PlanProbe.clear()
      spark.catalog.clearCache()
      graft.functions.PersistLeases.releaseAll()
    }
    val p = Paths.get(out)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, sb.toString)
    println(s"[plandump] wrote ${selected.size} plans to $out")
    spark.stop()
  }
}
