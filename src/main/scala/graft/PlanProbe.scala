package graft

import org.apache.spark.sql.DataFrame

/** Capture hook for EAGERLY-EXECUTED subplans — occupancy sweeps,
  * calibration collects, guard probes — that run during query
  * CONSTRUCTION and therefore never appear in the final plan an
  * `explain` of the result captures (VERDICT r21: the claimed
  * grid-occupancy plan delta was not visible in the q186/q190 dumps
  * because the sweep collects before the dumped plan exists).
  *
  * A dump harness ([[PlanDump]]) installs a sink; operators call
  * [[record]] on the frame they are about to execute eagerly. With no
  * sink installed (every production/bench path) the call is a single
  * volatile read — no plan is rendered, nothing is retained.
  */
object PlanProbe {
  @volatile private var sink: (String, DataFrame) => Unit = _

  /** Install a capture sink (dump harnesses only). */
  def install(s: (String, DataFrame) => Unit): Unit = { sink = s }

  /** Remove the sink — [[record]] returns to its no-op fast path. */
  def clear(): Unit = { sink = null }

  /** Record a frame the caller is about to execute eagerly. */
  def record(label: String, df: DataFrame): Unit = {
    val s = sink
    if (s != null) s(label, df)
  }
}
