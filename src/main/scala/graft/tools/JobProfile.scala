package graft.tools

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.queries.Registry

/** Per-JOB decomposition of a registry query's wall time — the guide-§1
  * "where does the time go" instrument for queries whose sf0.1 cost is
  * fixed overhead (jobs × stages × scheduling), not dataflow.
  *
  * For each named query: runs it `SPARK_GRAFT_RUNS` times (default 3)
  * in the Bench session shape (local[SPARK_GRAFT_CPUS], default 32),
  * prints every run's wall and its Janino compiles (count and summed
  * compile ms; a warm run that still compiles has outgrown the codegen
  * cache), and prints, for the LAST run, every Spark job with its wall
  * clock, stage count and task count, plus the residual (wall − Σ jobs
  * = driver-side planning/analysis/collect gaps, compiles included).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.JobProfile q186_calibrated_neardup"
  */
object JobProfile {
  /** Janino compiles so far in this JVM: (count, summed compile ns). */
  private def compiles(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.get("SPARK_GRAFT_RUNS").flatMap(_.toIntOption).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.SessionTuning.builder(cpus, "bench").getOrCreate()
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()

    final case class JobRec(id: Int, t0: Long, var t1: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, desc: String, names: String,
      var runMs: Long = 0L, var gcMs: Long = 0L, var deserMs: Long = 0L,
      var resSerMs: Long = 0L)
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        jobs += JobRec(e.jobId, e.time,
          stages = e.stageInfos.size,
          tasks = e.stageInfos.map(_.numTasks).sum,
          desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""),
          names = e.stageInfos.map(s => s.name.takeWhile(_ != ' '))
            .mkString("|")): Unit
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.t1 = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        for {
          jid <- stageToJob.get(e.stageId)
          j <- jobs.find(_.id == jid)
          m <- Option(e.taskMetrics)
        } {
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.deserMs += m.executorDeserializeTime
          j.resSerMs += m.resultSerializationTime
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    for (name <- args) {
      Registry.timingPrep.get(name).foreach(_(spark, dir))
      val walls = (1 to runs).map { i =>
        jobs.synchronized(jobs.clear())
        val (c0, ns0) = compiles()
        val t0 = System.nanoTime()
        val n = Registry.all(name).impl(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val (c1, ns1) = compiles()
        graft.functions.PersistLeases.releaseAll()
        spark.catalog.clearCache()
        println(f"$name run$i: $dt%.3f s rows=$n " +
          f"compiles=${c1 - c0} (${(ns1 - ns0) / 1e6}%.0f ms)")
        (dt, c1 - c0)
      }
      val (lastWall, lastCompiles) = walls.last
      Thread.sleep(300) // let the listener bus drain the last job-end events
      val snap = jobs.synchronized(jobs.toVector)
      val jobSum = snap.map(j => (j.t1 - j.t0) / 1e3).sum
      println(f"  == last run: ${snap.size} jobs, " +
        f"${snap.map(_.stages).sum} stages, ${snap.map(_.tasks).sum} tasks; " +
        f"jobs sum $jobSum%.3f s, wall $lastWall%.3f s, " +
        f"driver residual ${lastWall - jobSum}%.3f s, compiles $lastCompiles " +
        f"(median wall ${walls.map(_._1).sorted.apply(walls.size / 2)}%.3f)")
      snap.foreach { j =>
        println(f"    job ${j.id}%4d  ${(j.t1 - j.t0) / 1e3}%7.3f s  " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d  " +
          f"run=${j.runMs / 1e3}%6.2f gc=${j.gcMs / 1e3}%5.2f " +
          f"deser=${j.deserMs / 1e3}%5.2f ${j.desc.take(30)} ${j.names.take(60)}")
      }
    }
    spark.stop()
  }
}
