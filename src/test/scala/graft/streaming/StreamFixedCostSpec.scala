package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Diagnostic referee for the streaming fixed cost (VERDICT r12 #8:
  * 10 streaming queries cost ~17 s at sf0.1 — is it per-query
  * session/trigger setup or dataflow?). GRAFT_PERF-gated:
  *
  *   GRAFT_PERF=1 sbt "testOnly graft.streaming.StreamFixedCostSpec"
  *
  * Runs one simple stateful query (tumbling counts) and one
  * stream-stream outer join at sf0.1 and decomposes wall time into
  * (a) pre-start construction (schema batch-read + plan build),
  * (b) per-micro-batch execution from the progress log, and
  * (c) post-termination sink read. Prints the decomposition for the
  * bench notes; asserts only that the probe ran (numbers are for the
  * dossier, the bench gate is Bench itself).
  */
class StreamFixedCostSpec extends AnyFunSuite with graft.PerfSession {

  test("decompose streaming wall time: setup vs micro-batches vs sink") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val spark = perfSession()
    val d = "/root/testdata/sf0.1"
    // warm codegen/session
    spark.read.parquet(s"$d/events.parquet").count()

    def probe(name: String)(run: => org.apache.spark.sql.DataFrame): Unit = {
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        val batches =
          scala.collection.mutable.ArrayBuffer[(Long, Map[String, Long])]()
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
          import scala.jdk.CollectionConverters._
          batches += ((e.progress.batchId,
            e.progress.durationMs.asScala.view.mapValues(_.longValue()).toMap))
        }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val t0 = System.nanoTime()
      val out = run
      val n = out.count()
      val t1 = System.nanoTime()
      spark.streams.removeListener(listener)
      // triggerExecution contains the other phases; report it plus the
      // dominant sub-phases so double counting can't mislead
      val perBatch = listener.batches.map { case (id, m) =>
        val top = m.filterNot(_._1 == "triggerExecution").toSeq
          .sortBy(-_._2).take(3)
          .map { case (k, v) => s"$k=${v}ms" }.mkString(",")
        s"b$id=${m.getOrElse("triggerExecution", 0L)}ms($top)"
      }
      val trigTotal = listener.batches
        .map(_._2.getOrElse("triggerExecution", 0L)).sum / 1e3
      info(f"$name: wall ${(t1 - t0) / 1e9}%.2fs, rows $n, " +
        f"batches ${listener.batches.size} [${perBatch.mkString(" ")}] " +
        f"(triggerExecution total $trigTotal%.2fs; wall minus that = " +
        "construction + trigger bookkeeping + sink read)")
    }

    (1 to 2).foreach { round =>
      probe(s"tumbling r$round")(
        EventStream.tumblingCounts(spark, d, 3600000000L))
      probe(s"ss outer join r$round")(
        EventStream.purchaseClickLeftOuter(spark, d))
    }
  }
}
