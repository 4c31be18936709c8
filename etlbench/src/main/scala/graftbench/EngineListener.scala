package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Per-span engine totals, filled by [[EngineListener]]. Times in ns,
  * sizes in bytes.
  */
final class EngineTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunNs = 0L
  var executorCpuNs = 0L
  var gcNs = 0L
  var taskDeserNs = 0L
  var schedulerDelayNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L

  def add(o: EngineTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorRunNs += o.executorRunNs; executorCpuNs += o.executorCpuNs
    gcNs += o.gcNs; taskDeserNs += o.taskDeserNs
    schedulerDelayNs += o.schedulerDelayNs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    inputRecords += o.inputRecords
    outputBytes += o.outputBytes
  }
}

/** Attributes every job, stage and task to the span whose id the
  * submitting thread carried in [[Tracer.SpanProperty]]; work outside
  * any span lands under span id 0. Also keeps each job's wall interval
  * (listener-bus time, ms) per span for the driver-residual metric.
  */
final class EngineListener extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val totals = mutable.Map.empty[Long, EngineTotals]
  private val intervals = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Long)]]

  private def of(span: Long) = totals.getOrElseUpdate(span, new EngineTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageSpan(_) = span)
    of(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val span = jobSpan.getOrElse(e.jobId, 0L)
    jobStart.remove(e.jobId).foreach { t0 =>
      intervals.getOrElseUpdate(span, mutable.ArrayBuffer.empty) += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = of(stageSpan.getOrElse(e.stageId, 0L))
    t.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      t.executorRunNs += m.executorRunTime * 1000000L
      t.executorCpuNs += m.executorCpuTime
      t.gcNs += m.jvmGCTime * 1000000L
      t.taskDeserNs += m.executorDeserializeTime * 1000000L
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
      t.outputBytes += m.outputMetrics.bytesWritten
      if (info != null && info.finishTime > 0) {
        // the Spark UI's scheduler-delay formula
        val total = info.finishTime - info.launchTime
        val delay = total - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        t.schedulerDelayNs += math.max(0L, delay) * 1000000L
      }
    }
  }

  /** Totals summed over `spans`. */
  def totalsFor(spans: Set[Long]): EngineTotals = synchronized {
    val acc = new EngineTotals
    spans.foreach(s => totals.get(s).foreach(acc.add))
    acc
  }

  /** Job wall intervals (ms) of jobs attributed to `spans`. */
  def jobIntervalsMs(spans: Set[Long]): Seq[(Long, Long)] = synchronized {
    spans.toSeq.flatMap(s => intervals.getOrElse(s, Nil))
  }
}
